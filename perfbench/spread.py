"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --seeds 1-10 [--workload crawl_mix ...] [--out spread.jsonl]

Runs the BENCHMARK.json command once per (workload, seed), sequentially,
and prints for each metric the median, the distance between the first and
third quartiles (statistics.quantiles, n=4) as a share of the median, and
that share against the metric's bound. Appends every result line to --out.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", type=seeds, required=True)
    p.add_argument("--workload", action="append")
    p.add_argument("--out")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    names = args.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for wl in names:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in args.seeds:
            cmd = spec["command"] + ["--workload", wl, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]),
                                     "--trace", "0"]
            t0 = time.perf_counter()
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            walls.append(time.perf_counter() - t0)
            lines = r.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            if args.out:
                record = json.loads(lines[-2]) if len(lines) > 1 else None
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": wl, "seed": seed, "rc": r.returncode,
                                        "wall_s": walls[-1], "result": result,
                                        "record": record}) + "\n")
            if r.returncode != 0 or not result.get("correct"):
                ok = False
                print(f"{wl} seed {seed}: rc={r.returncode} {r.stderr[-500:]}", file=sys.stderr)
                continue
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"{wl}: {len(walls)} runs, wall per run median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
            share = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(k)
            verdict = "" if bound is None else \
                f" bound {bound}  {'ok' if share < bound / 3 else 'WIDE'}"
            print(f"  {k:14s} median {med:12.4f}  iqr/median {share:.4f}{verdict}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
