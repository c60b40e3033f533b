"""Full-suite bench run bracketed by the pure-ALU control (round-4
verdict item 4): proves whether per-query moves vs the previous round are
engine changes or co-tenant noise.

Runs cpu_control(32) before and after `python bench.py`, records both
absolute rates and their ratio, and declares the window QUIET when the
brackets agree within 5% (the same [0.95, 1.05] band scaling.py uses for
clean pairs). Output: BENCH_quiet_r5.json (control evidence + the bench
headline); bench.py itself writes the full per-query BENCH_details.json.

Usage: python scripts/quiet_bench.py [out.json]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))
sys.path.insert(0, REPO)

from ocr_spark.session import default_cores  # noqa: E402
from scaling import cpu_control  # noqa: E402


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.join(REPO, "BENCH_quiet_r5.json")
    procs = default_cores()

    before = cpu_control(procs)
    bench = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        cwd=REPO, capture_output=True, text=True)
    after = cpu_control(procs)

    last = bench.stdout.strip().splitlines()[-1] if bench.stdout.strip() else ""
    try:
        headline = json.loads(last)
    except json.JSONDecodeError:
        headline = {"unparsed_tail": last[-500:]}

    ratio = after / before
    record = {
        "alu_control_procs": procs,
        "alu_control_rate_before": before,
        "alu_control_rate_after": after,
        "alu_control_ratio": round(ratio, 3),
        "quiet": 0.95 <= ratio <= 1.05,
        "bench_rc": bench.returncode,
        "headline": headline,
        "details": "BENCH_details.json",
    }
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: record[k] for k in
                      ("alu_control_ratio", "quiet", "bench_rc")}))
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
