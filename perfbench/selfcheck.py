"""Self-check of the benchmark at tiny sizes (about five minutes).

    python3 perfbench/selfcheck.py

1. BENCHMARK.json keeps its contract, and layers.json maps every per-layer
   metric to the end-to-end metric and workload it should move.
2. A tiny run of each workload prints every metric name with its unit (both
   end-to-end and per-layer), passes the gate, and exits 0.
3. A corrupted committed row and a lost data file each fail the gate.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

TINY = {
    "crawl_mix": {"pages": 64, "payloads": True, "files": 1, "warm_pages": 32, "queries": True},
    "crawl_stream": {"pages": 48, "payloads": False, "files": 3, "warm_pages": 16,
                     "queries": False},
}


class CheckFailed(Exception):
    pass


def expect(ok: bool, detail: object = "") -> None:
    if not ok:
        raise CheckFailed(str(detail))


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_spec() -> dict:
    spec = run.load_benchmark_spec()
    expect(set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}, sorted(spec))
    expect({w["name"] for w in spec["workloads"]} == set(run.WORKLOADS))
    expect(all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in spec["workloads"]))
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    expect(len(names) == len(set(names)) and all(NAME.match(n) for n in names), names)
    for m in spec["end_to_end"]:
        expect(set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25, m)
    for m in spec["per_layer"]:
        expect(set(m) == {"name", "unit", "better"}, m)
    expect(all(UNIT.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"]))
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    expect(setup["unit"] == "s" and setup["better"] == "lower")
    expect(setup["bound"] == max(m["bound"] for m in spec["end_to_end"]))
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    e2e = {m["name"] for m in spec["end_to_end"]}
    mapped = {m: v for layer in layers["layers"] for m, v in layer["metrics"].items()}
    per_layer = {m["name"] for m in spec["per_layer"]}
    expect(set(mapped) == per_layer, set(mapped) ^ per_layer)
    for metric, moves in mapped.items():
        for target in moves["moves"]:
            expect(target["metric"] in e2e and target["workload"] in run.WORKLOADS,
                   (metric, target))
    return spec


def tiny_run(workload: str, trace: int, spec: dict) -> None:
    out = subprocess.run([sys.executable, __file__, "--child-run", workload, str(trace)],
                         capture_output=True, text=True, timeout=600, cwd=run.ROOT)
    expect(out.returncode == 0, out.stderr[-3000:])
    result = json.loads(out.stdout.strip().splitlines()[-1])
    expect(set(result) == {"correct", "attempted", "failed", "metrics"})
    expect(result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1)
    want = spec["per_layer" if trace else "end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    expect(got == {m["name"]: m["unit"] for m in want}, got)
    expect(all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()))
    print(f"ok: {workload} --trace {trace} printed {len(got)} metrics with units")


def child_run(workload: str, trace: int) -> int:
    run.WORKLOADS[workload] = TINY[workload]
    return run.main(["--workload", workload, "--seed", "7", "--seconds", "1",
                     "--trace", str(trace)])


def child_gate() -> int:
    import procs

    sys.path.insert(0, run.ROOT)
    procs.adopt_orphans()
    try:
        return damage_table()
    finally:
        procs.stop_descendants()


def damage_table() -> int:
    """Commit a tiny corpus through the real job, then damage the table."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    import workload as wl
    from ocr_spark.io.tableio import SnapshotTable

    cfg = TINY["crawl_mix"]
    work = os.path.join(run.STATE, "work", f"selfcheck-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run.confine_to(work)
    corpus = wl.build_corpus(os.path.join(run.STATE, "cache"), "selfcheck-n64", wl.seed_offset(7),
                             cfg["pages"], True, 1, 2)
    golden = corpus.golden()
    table_dir = os.path.join(work, "table")
    session = run.Session(work, 2)
    try:
        run.run_op(session.spark, corpus, SnapshotTable(table_dir), table_dir)
    finally:
        session.close()
    g, bad = wl.check_table(table_dir, golden)
    expect(g.ok and not bad, g.as_dict())

    snap = SnapshotTable(table_dir).current_snapshot()
    first = os.path.join(table_dir, snap["data_files"][0])
    t = pq.read_table(first)
    texts = t.column("extracted_text").to_pylist()
    texts[0] += " "
    pq.write_table(t.set_column(t.schema.get_field_index("extracted_text"), "extracted_text",
                                pa.array(texts, pa.string())), first)
    g, bad = wl.check_table(table_dir, golden)
    expect(not g.ok and g.text_ok == g.checked - 1 and bad == {t.column("url")[0].as_py()},
           g.as_dict())
    print("ok: one committed row with a changed text fails the gate")

    os.remove(first)
    g, bad = wl.check_table(table_dir, golden)
    expect(not g.ok and g.lost == t.num_rows and g.audit_mismatch, g.as_dict())
    print(f"ok: losing a data file ({g.lost} urls) fails the gate")
    shutil.rmtree(work, ignore_errors=True)
    return 0


def main(argv: list[str]) -> int:
    if argv[:1] == ["--child-run"]:
        return child_run(argv[1], int(argv[2]))
    if argv[:1] == ["--child-gate"]:
        return child_gate()
    spec = check_spec()
    print("ok: BENCHMARK.json and layers.json")
    tiny_run("crawl_mix", 1, spec)
    tiny_run("crawl_stream", 0, spec)
    out = subprocess.run([sys.executable, __file__, "--child-gate"], capture_output=True,
                         text=True, timeout=600, cwd=run.ROOT)
    print(out.stdout, end="")
    expect(out.returncode == 0, out.stderr[-3000:])
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
