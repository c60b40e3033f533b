"""Outside-in per-layer measurement for the traced run.

Nothing here edits the program: spans come from wrapping calls into each
layer's public functions (a ``SnapshotTable`` subclass passed to the job, a
wrapper around ``ocr_spark.pipeline.run_pipeline``), engine counters come
from Spark's status store and ``/proc``, and stage walls come from timing
cumulative cuts of the pipeline into the ``noop`` sink.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections.abc import Iterator

from ocr_spark.io.tableio import SnapshotTable, part_key
from procs import tree_pids

CLK_TCK = os.sysconf("SC_CLK_TCK")


class Spans:
    """In-memory span log: name, start, end, parent and run id per span.

    Spans may be recorded from the streaming callback thread, so appends
    take a lock. The log is written once, by ``dump``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name, "start": start - self._t0,
                               "end": end - self._t0, "parent": parent,
                               "run_id": self.run_id, **attrs})
            return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs) -> Iterator[dict]:
        """Record a span around a block. The yielded record already holds its
        ``id`` (for children to name as parent); the block may add attributes."""
        start = time.perf_counter()
        sid = self.add(name, start, start, parent, **attrs)
        rec = self.spans[sid]
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0

    def named(self, name: str, parent: int | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (parent is None or s["parent"] == parent)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class TracedTable(SnapshotTable):
    """SnapshotTable that records a span around each commit and each
    committed-file lookup, parented to the operation that owns the table."""

    def __init__(self, path: str, spans: Spans, parent: int | None):
        super().__init__(path)
        self.spans = spans
        self.parent = parent

    def commit(self, df, *args, **kwargs):
        start = time.perf_counter()
        try:
            return super().commit(df, *args, **kwargs)
        finally:
            self.spans.add("tableio.commit", start, time.perf_counter(), self.parent)

    def candidate_committed_files(self, buckets, url_lo, url_hi):
        start = time.perf_counter()
        files = super().candidate_committed_files(buckets, url_lo, url_hi)
        self.spans.add("streaming.candidate_committed_files", start, time.perf_counter(),
                       self.parent, files=len(files))
        return files


@contextlib.contextmanager
def traced_run_pipeline(spans: Spans, parent: int | None) -> Iterator[None]:
    """Wrap ``ocr_spark.pipeline.run_pipeline`` (looked up at call time by the
    batch job and the stream callback) so each plan construction is a span."""
    import ocr_spark.pipeline as pipeline

    inner = pipeline.run_pipeline

    def wrapper(*args, **kwargs):
        start = time.perf_counter()
        try:
            return inner(*args, **kwargs)
        finally:
            spans.add("pipeline.build", start, time.perf_counter(), parent)

    pipeline.run_pipeline = wrapper
    try:
        yield
    finally:
        pipeline.run_pipeline = inner


# -- process tree ------------------------------------------------------------

def tree_resident_bytes(root: int) -> int:
    """Resident memory of the process tree, each page counted once: the sum
    of proportional set sizes, in which a page shared by n processes counts
    1/n in each. Summing plain RSS would count the pages a forked Python
    worker shares with its daemon once per worker, so a burst of forks would
    read as a peak."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration, IndexError, ValueError):
            pass
    return total * 1024


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the live tree, including reaped children."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / CLK_TCK


class RssSampler:
    """Background sampler of the process tree's resident memory; keeps the peak."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_resident_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# -- Spark engine counters ---------------------------------------------------

class SparkCounters:
    """Per-interval deltas of engine counters read from the status store
    (jobs, tasks, shuffle and spill bytes, executor CPU), the JVM's own GC
    time, and the CPU of the whole process tree (JVM plus Python workers)."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.cores = spark.sparkContext.defaultParallelism

    def _next_job(self) -> int:
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def _gc_ms(self) -> int:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        beans = mf.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

    def mark(self) -> dict:
        return {"job": self._next_job(), "gc_ms": self._gc_ms(),
                "cpu_s": tree_cpu_s(os.getpid()), "t": time.perf_counter()}

    def stage_ids(self, lo_job: int, hi_job: int) -> list[int]:
        jobs = self.store.jobsList(None)
        ids: list[int] = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if lo_job <= j.jobId() < hi_job:
                sids = j.stageIds()
                ids.extend(sids.apply(k) for k in range(sids.size()))
        return ids

    def delta(self, m0: dict) -> dict:
        from py4j.protocol import Py4JJavaError

        m1 = self.mark()
        tot = {"tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "executor_cpu_ns": 0}
        for sid in set(self.stage_ids(m0["job"], m1["job"])):
            try:
                s = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage skipped before it was ever submitted
                continue
            tot["tasks"] += s.numCompleteTasks()
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["executor_cpu_ns"] += s.executorCpuTime()
        wall = m1["t"] - m0["t"]
        return {
            "jobs": m1["job"] - m0["job"],
            "tasks": tot["tasks"],
            "shuffle_write_bytes": tot["shuffle_write_bytes"],
            "spill_bytes": tot["spill_bytes"],
            "gc_s": (m1["gc_ms"] - m0["gc_ms"]) / 1000.0,
            "executor_cpu_s": tot["executor_cpu_ns"] / 1e9,
            "cpu_busy_share":
                (m1["cpu_s"] - m0["cpu_s"]) / (wall * self.cores) if wall > 0 else 0.0,
        }

    def last_stage_task_skew(self, lo_job: int, hi_job: int) -> float:
        """max/median task duration of the last stage the jobs ran."""
        ids = self.stage_ids(lo_job, hi_job)
        if not ids:
            return 0.0
        tasks = self.store.taskList(max(ids), 0, 100_000)
        durs = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durs.append(d.get())
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med else 0.0


# -- pipeline cuts and single-process costs ------------------------------------

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def pipeline_cuts(spark, counters: SparkCounters, pages_path: str,
                  payloads_path: str | None, reps: int, scratch: str) -> dict:
    """Median walls of cumulative cuts of the extraction plan into noop, and
    of the snapshot commit on its own.

    scan_salt: scan + xxhash64(url) salt; stage_a_cut: that plus stage A;
    stage_b: salted payload scan + stage B; full: run_pipeline; plan: build
    run_pipeline plus the executed plan; commit_own: SnapshotTable.commit
    into a fresh table under ``scratch`` of a pipeline result that is
    already persisted and counted, so none of the pipeline runs inside it."""
    from pyspark.sql import functions as F

    from ocr_spark import config as C
    from ocr_spark.operators.stage_a import stage_a
    from ocr_spark.operators.stage_b import stage_b
    from ocr_spark.pipeline import run_pipeline

    salt = spark.sparkContext.defaultParallelism * C.SALT_PARTITIONS_PER_CORE

    def salted(path):
        return spark.read.parquet(path).repartition(salt, F.xxhash64("url"))

    def timed(build) -> float:
        df = build()
        t0 = time.perf_counter()
        _noop(df)
        return time.perf_counter() - t0

    def full_plan_commit(rep: int) -> tuple[float, float, float]:
        """One run_pipeline result serves three measurements: its build plus
        executed plan, its noop wall, then the commit once it is persisted."""
        t0 = time.perf_counter()
        df = run_pipeline(spark, pages_path, payloads_path)
        df._jdf.queryExecution().executedPlan()
        plan = time.perf_counter() - t0
        t0 = time.perf_counter()
        _noop(df)
        full = time.perf_counter() - t0
        df = df.withColumn("part_key", part_key(F.col("url"))).persist()
        df.count()
        t0 = time.perf_counter()
        SnapshotTable(os.path.join(scratch, f"commit-{rep}")).commit(df)
        return full, plan, time.perf_counter() - t0

    keys = ("scan_salt", "stage_a_cut", "stage_b", "full", "plan", "skew", "commit_own")
    runs: dict[str, list[float]] = {k: [] for k in keys}
    for rep in range(reps):
        spark._jvm.System.gc()
        runs["scan_salt"].append(timed(lambda: salted(pages_path)))
        lo = counters.mark()["job"]
        runs["stage_a_cut"].append(timed(lambda: stage_a(salted(pages_path))))
        runs["skew"].append(counters.last_stage_task_skew(lo, counters.mark()["job"]))
        runs["stage_b"].append(
            timed(lambda: stage_b(salted(payloads_path))) if payloads_path else 0.0)
        for key, value in zip(("full", "plan", "commit_own"), full_plan_commit(rep)):
            runs[key].append(value)
    return {k: statistics.median(v) for k, v in runs.items()}


def query_walls(spark, spans: Spans, tables_dir: str, names: list[str]) -> dict:
    """Build and collect each query once, in order, each inside a span.
    Returns name -> (wall, pandas result), or (wall, None) when it raised."""
    from ocr_spark.queries import QUERIES

    out = {}
    for name in names:
        with spans.span(f"queries.{name}") as rec:
            try:
                result = QUERIES[name](spark, tables_dir).toPandas()
            except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
                rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                result = None
        out[name] = (rec["end"] - rec["start"], result)
    return out


def _per_item_us(fn, items: list, passes: int = 3) -> float:
    if not items:
        return 0.0
    walls = []
    for _ in range(passes):
        t0 = time.perf_counter()
        fn(items)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) / len(items) * 1e6


def single_process_costs(htmls: list[bytes], blobs: list[bytes], oracle_items: list) -> dict:
    """Per-document costs of the pure-Python cores on one core."""
    from ocr_spark.extraction.html_extract import extract_page
    from ocr_spark.extraction.recognizer import decode_payload, recognize_batch
    from ocr_spark.oracle.reference_semantics import process_page

    def recognize(bs):
        for i in range(0, len(bs), 2048):
            recognize_batch([decode_payload(b) for b in bs[i:i + 2048]])

    return {
        "html_extract.us_per_doc": _per_item_us(lambda hs: [extract_page(h) for h in hs], htmls),
        "recognizer.us_per_payload": _per_item_us(recognize, blobs),
        "oracle.us_per_doc": _per_item_us(lambda its: [process_page(h, b) for h, b in its],
                                          oracle_items),
    }
