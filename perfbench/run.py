"""The repository benchmark: the committed extraction job, end to end.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Each run generates its corpus from the seed
(cached under ``.perfbench/cache``, never timed), starts ``local[nproc]``,
warms the job up, then runs one closed-loop operation at a time through the
public entry points for ``--seconds``: ``io.tableio.run_and_commit`` into a
fresh ``SnapshotTable`` (``crawl_mix``), or a drain of a pre-landed parquet
backlog by ``streaming.incremental.stream_pages_to_table`` (``crawl_stream``).
Every committed url is then checked against the pure-Python oracle
(``oracle.reference_semantics.process_page``).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
``end_to_end`` ones of BENCHMARK.json; with ``--trace 1`` they are the
``per_layer`` ones, taken by wrapping calls into each layer from outside
(see ledger.py). The line before it is a record of the run: host stamp, ALU
control, sample counts, correctness rates and the per-operation timings.
The exit code is 0 when every committed url matched the oracle, 1 when any
did not or an operation failed, and 2 when the program is missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# Sizes per workload. ``files`` > 1 lands the pages as a stream backlog of
# that many parquet files, drained one file per micro-batch. One warm-up
# operation on a small corpus runs before timing, through the same entry
# point: the first job in a JVM (or the first drain of a stream) pays
# Python-worker start, the stream's callback server and code generation. A
# stream warms up on two files, so both of its batch paths run: the first
# batch lands on an empty table, the second dedups against it. ``queries``
# adds one pass of the query subset to the traced run.
WORKLOADS = {
    "crawl_mix": {"pages": 2000, "payloads": True, "files": 1, "warm_pages": 256,
                  "queries": True},
    "crawl_stream": {"pages": 1200, "payloads": False, "files": 3, "warm_pages": 32,
                     "queries": False},
}

# A run keeps going past --seconds until it has attempted this many batches,
# so a slow host window never leaves a run with a single sample.
MIN_BATCHES = 2

# Cuts of the pipeline repeated in a traced run; their median is reported.
CUT_REPS = 2


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat: time a
    virtual CPU was runnable but another tenant held the physical core."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def alu_control_s() -> float:
    """Wall of a fixed pure-Python loop: a noisy host window shows as a
    slower control before or after the workload."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += (i * i) & 7
    return time.perf_counter() - t0


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "ocr_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def host_stamp(args: argparse.Namespace, cfg: dict, cores: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    git_sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=30)
        git_sha = r.stdout.strip() or None
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "git_sha": git_sha, "source_sha256": source_digest(), "nproc": cores,
        "mem_gib": round(mem_kb / 2**20, 1), "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
        "python": sys.version.split()[0], "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "sizes": cfg,
    }


def confine_to(work: str) -> None:
    """Point every scratch location of this process, the JVM it launches and
    the Python workers at ``work``, so a run writes only inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import ocr_spark, so they need the checkout on their path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR


class Session:
    """local[cores] SparkSession; ``close`` stops it and waits for the JVM."""

    def __init__(self, work: str, cores: int):
        from ocr_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", cores=cores, extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        self._proc = self.spark.sparkContext._gateway.proc

    def close(self) -> None:
        """Stop Spark, let the JVM exit, then wait for the Python workers it
        started, which exit once the JVM's sockets close."""
        import procs

        spawned = procs.tree_pids(self._proc.pid)
        try:
            self.spark.stop()
        finally:
            self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait()
        deadline = time.monotonic() + 30
        while any(procs.alive(p) for p in spawned) and time.monotonic() < deadline:
            time.sleep(0.1)


def run_op(spark, corpus, table, table_dir: str) -> dict:
    """One operation: a batch job, or a drain of the whole stream backlog.
    Returns its wall and the wall of each committed batch in it."""
    if len(corpus.files) == 1:
        from ocr_spark.io.tableio import run_and_commit

        t0 = time.perf_counter()
        run_and_commit(spark, corpus.pages, table, corpus.payloads)
        wall = time.perf_counter() - t0
        return {"wall": wall, "batches": [wall]}
    from ocr_spark.streaming.incremental import stream_pages_to_table

    t0 = time.perf_counter()
    q = stream_pages_to_table(spark, corpus.pages, table, table_dir + ".checkpoint",
                              max_files_per_trigger=1, available_now=True)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    batches = [p["durationMs"]["triggerExecution"] / 1000.0
               for p in q.recentProgress if p["numInputRows"] > 0]
    return {"wall": wall, "batches": batches}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


def load_benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_block(spec: list[dict], values: dict[str, float]) -> dict:
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing:
        raise KeyError(f"benchmark computed no value for {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def run(args: argparse.Namespace, cfg: dict) -> tuple[dict, dict]:
    """Run one workload; returns (result line, run record)."""
    import ledger
    import workload as wl

    cores = len(os.sched_getaffinity(0))
    cache = os.path.join(STATE, "cache")
    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    confine_to(work)
    n = cfg["pages"]
    corpus = wl.build_corpus(
        cache, f"{args.workload}-seed{args.seed}-n{n}-f{cfg['files']}",
        wl.seed_offset(args.seed), n, cfg["payloads"], cfg["files"], cores)
    warm_files = min(cfg["files"], 2)
    warm = wl.build_corpus(
        cache, f"{args.workload}-warm-n{cfg['warm_pages']}-f{warm_files}",
        wl.WARMUP_OFFSET, cfg["warm_pages"], cfg["payloads"], warm_files, cores)
    golden = corpus.golden()
    tables = wl.build_query_tables(cache) if args.trace and cfg["queries"] else None

    record = {"stamp": host_stamp(args, cfg, cores), "alu_before_s": alu_control_s()}
    steal0 = cpu_steal_ticks()
    spans = ledger.Spans(f"{args.workload}-seed{args.seed}-{os.getpid()}")
    ops: list[dict] = []
    cuts = None
    query_runs: dict = {}
    with ledger.RssSampler() as rss:
        from ocr_spark.io.tableio import SnapshotTable

        t0 = time.perf_counter()
        session = Session(work, cores)
        spark = session.spark
        t1 = time.perf_counter()
        try:
            d = os.path.join(work, "warm")
            run_op(spark, warm, SnapshotTable(d), d)
            t2 = time.perf_counter()
            counters = ledger.SparkCounters(spark) if args.trace else None

            # Closed loop: one operation at a time until the window is spent.
            # A traced run alternates untraced and traced operations, so the
            # tracing overhead is measured inside one run. A batch job ends
            # on an untraced one (at least A-B-A), so linear warm-up drift
            # cancels. A stream drain holds several batches and takes tens of
            # seconds, so a traced stream run stops at A-B to stay within the
            # time limit of one run; drift between its drains reads as overhead.
            def trace_pending(n: int) -> bool:
                if len(corpus.files) > 1:
                    return n < 2
                return n < 3 or n % 2 == 0

            t_start = time.perf_counter()
            while (time.perf_counter() - t_start < args.seconds
                   or len(ops) * len(corpus.files) < MIN_BATCHES
                   or (args.trace and trace_pending(len(ops)))):
                i = len(ops)
                traced = bool(args.trace) and i % 2 == 1
                d = os.path.join(work, f"op-{i}")
                spark._jvm.System.gc()
                with spans.span("op", index=i, traced=traced) as rec:
                    op_span = rec["id"]
                    table = ledger.TracedTable(d, spans, op_span) if traced else SnapshotTable(d)
                    mark = counters.mark() if counters else None
                    op = {"index": i, "traced": traced, "dir": d, "error": None}
                    try:
                        if traced:
                            with ledger.traced_run_pipeline(spans, op_span):
                                op.update(run_op(spark, corpus, table, d))
                        else:
                            op.update(run_op(spark, corpus, table, d))
                    except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                        op["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                    if counters:
                        op["counters"] = counters.delta(mark)
                    rec["error"] = op["error"]
                ops.append(op)

            if args.trace:
                cuts = ledger.pipeline_cuts(spark, counters, corpus.files[0], corpus.payloads,
                                            CUT_REPS, os.path.join(work, "cuts"))
            if tables:
                query_runs = ledger.query_walls(spark, spans, tables, wl.QUERY_SUBSET)
        finally:
            session.close()
    steal1 = cpu_steal_ticks()
    record["cpu_steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    record["alu_after_s"] = alu_control_s()

    # -- correctness gate (after the timed window) ----------------------------
    import pyarrow.parquet as pq

    file_of = {}
    for k, path in enumerate(corpus.files):
        for u in pq.read_table(path, columns=["url"]).column("url").to_pylist():
            file_of[u] = k
    gate = wl.GateResult()
    attempted = failed = 0
    for op in ops:
        n_batches = len(corpus.files)
        attempted += n_batches
        if op["error"] is None:
            g, bad = wl.check_table(op["dir"], golden)
            gate.add(g)
            op["docs"] = g.checked - g.lost
            op["gate_ok"] = g.ok
            bad_batches = len({file_of[u] for u in bad if u in file_of}) or int(not g.ok)
        else:
            op["gate_ok"] = False
            bad_batches = n_batches
        op["failed_batches"] = bad_batches
        failed += bad_batches
        manifest = wl.manifest_path(op["dir"])
        op["manifest_bytes"] = os.path.getsize(manifest) if manifest else 0
    # Each query of the traced pass is an operation too; its rows must equal
    # those of its DuckDB twin on the same tables.
    query_ok = {name: result is not None and wl.query_matches_oracle(name, result, tables)
                for name, (_, result) in query_runs.items()}
    attempted += len(query_ok)
    failed += sum(not ok for ok in query_ok.values())
    correct = failed == 0 and gate.ok

    good = [op for op in ops if op["gate_ok"]]
    batch_walls = [b for op in good for b in op["batches"]]
    docs_per_s = median([op["docs"] / op["wall"] for op in good])
    setup = {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1}
    # The gate's rates are 1, 1 and 0 on a correct run, so they are reported
    # here and through ``correct``/``failed`` rather than as timed metrics.
    gate_metrics = {**gate.rates(), "failed_ops_ratio": failed / attempted}
    record.update({
        "gate_metrics": {k: {"value": v, "unit": "share"} for k, v in gate_metrics.items()},
        "gate": gate.as_dict(),
        "setup_s": t2 - t0, "samples": {"ops": len(good), "batches": len(batch_walls)},
        "peak_rss_mb": rss.peak / 2**20,
        "ops": [{k: op.get(k) for k in ("index", "traced", "wall", "batches", "docs",
                                        "error", "failed_batches")} for op in ops],
        "queries": {name: {"wall_s": query_runs[name][0], "ok": ok}
                    for name, ok in query_ok.items()},
    })

    spec = load_benchmark_spec()
    if not args.trace:
        metrics = metric_block(spec["end_to_end"], {
            "docs_per_s": docs_per_s,
            "batch_p50_s": median(batch_walls),
            "setup_s": t2 - t0,
            "peak_rss_mb": rss.peak / 2**20,
        })
    else:
        metrics = metric_block(spec["per_layer"], per_layer_values(
            corpus, good, spans, cuts, setup, query_runs))
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        spans.dump(os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, record


def per_layer_values(corpus, good, spans, cuts, setup, query_runs) -> dict:
    import ledger
    import pyarrow.parquet as pq
    import workload as wl

    untraced = [op for op in good if not op["traced"]]
    traced = [op for op in good if op["traced"]]
    op_ids = {s["index"]: s["id"] for s in spans.named("op")}
    commits, precommits, cand, builds = [], [], [], []
    for op in traced:
        sid = op_ids[op["index"]]
        c = [s["end"] - s["start"] for s in spans.named("tableio.commit", sid)]
        commits += c
        builds += [s["end"] - s["start"] for s in spans.named("pipeline.build", sid)]
        cand += [s["files"] for s in spans.named("streaming.candidate_committed_files", sid)]
        if len(corpus.files) > 1:
            precommits += [b - x for b, x in zip(op["batches"], c)]
    stage_a = cuts["stage_a_cut"] - cuts["scan_salt"]
    native = cuts["full"] - cuts["stage_a_cut"] - cuts["stage_b"]
    # The ledger's cuts run right after the last untraced operation, so that
    # operation (the warmest) is the wall they are compared with.
    untraced_batch = median(untraced[-1]["batches"]) if untraced else 0.0
    untraced_docs_per_s = mean([op["docs"] / op["wall"] for op in untraced])
    traced_docs_per_s = mean([op["docs"] / op["wall"] for op in traced])

    pages = pq.read_table(corpus.files[0], columns=["url", "html"])
    htmls = pages.column("html").to_pylist()[:300]
    blobs, blob_of = [], {}
    if corpus.payloads:
        pay = pq.read_table(corpus.payloads)
        blobs = pay.column("payload").to_pylist()
        blob_of = dict(zip(pay.column("url").to_pylist(), blobs))
    oracle_items = [(h, blob_of.get(u)) for u, h in
                    zip(pages.column("url").to_pylist()[:100], htmls[:100])]
    values = ledger.single_process_costs(htmls, blobs, oracle_items)
    values.update({
        "stage_a.wall_s": stage_a,
        "stage_a.task_skew": cuts["skew"],
        "stage_b.wall_s": cuts["stage_b"],
        "pipeline.scan_salt_s": cuts["scan_salt"],
        "pipeline.plan_s": cuts["plan"],
        "pipeline.build_s": median(builds),
        "pipeline.native_block_s": native,
        "tableio.commit_s": median(commits),
        "tableio.commit_own_s": cuts["commit_own"],
        "tableio.manifest_bytes": median([op["manifest_bytes"] for op in traced]),
        "streaming.candidate_files": mean(cand),
        "streaming.precommit_s": median(precommits),
        # Every term is measured on its own (the noop cuts sum to the full
        # noop wall), so the ratio checks the ledger against the real job.
        "ledger.coverage": (median(builds) + cuts["scan_salt"] + stage_a + cuts["stage_b"]
                            + native + cuts["commit_own"]) / untraced_batch
                           if untraced_batch else 0.0,
        "trace.overhead_share":
            1.0 - traced_docs_per_s / untraced_docs_per_s if untraced_docs_per_s else 0.0,
        "spark.cpu_busy_share": median([op["counters"]["cpu_busy_share"] for op in traced]),
        **setup,
    })
    # The query subset runs only in crawl_mix's traced run; elsewhere the
    # layer does no work and reads 0.
    for name in wl.QUERY_SUBSET:
        values[f"queries.{name}.wall_s"] = query_runs[name][0] if query_runs else 0.0
    # Engine counters are per committed batch: a job on crawl_mix, a
    # micro-batch on crawl_stream.
    for key in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_s", "executor_cpu_s"):
        values[f"spark.{key}"] = median(
            [op["counters"][key] / max(1, len(op["batches"])) for op in traced])
    return values


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ocr_spark")):
        print(f"perfbench: no ocr_spark package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import procs

    # Every process the run starts is stopped and waited for before it
    # exits, on every path out: SIGTERM unwinds like an error would.
    procs.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, record = run(args, WORKLOADS[args.workload])
    finally:
        procs.stop_descendants()
    print(json.dumps(record), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
