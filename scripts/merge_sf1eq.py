"""Merge the sharded sf1-equivalent sweep receipts into
CORRECTNESS_sf1eq.json with a _meta summary (round-4 verdict item 2).

The sf1-equivalent (10x) sweep runs as three parallel shards over the registry
(scripts/check_oracle.py with CHECK_ORACLE_OUT=/tmp/sf1eq10_part{i}.json);
this folds them into one driver-format file and summarizes pass /
timeout / fail counts and how many entries were carried forward
(``"seeded": true``) instead of re-run.

Usage: python scripts/merge_sf1eq.py [part files...]
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "CORRECTNESS_sf1eq.json")


def main() -> None:
    parts = sys.argv[1:] or sorted(glob.glob("/tmp/sf1eq10_part*.json"))
    record: dict[str, dict] = {}
    for p in parts:
        with open(p) as f:
            record.update(json.load(f))
    # the standing receipt wins over the raw shard files: targeted
    # CHECK_ORACLE_MERGE re-runs (straggler retries at full cores) have
    # already folded their fresher results into OUT
    if os.path.exists(OUT):
        with open(OUT) as f:
            record.update({k: v for k, v in json.load(f).items()
                           if k != "_meta"})

    n_pass = sum(1 for v in record.values() if v.get("hash_match"))
    n_rows_only = sum(1 for v in record.values()
                      if v.get("err") == "rows-only (no oracle)")
    timeouts = sorted(k for k, v in record.items()
                      if v.get("err") and "timeout" in v["err"])
    spark_timeouts = sorted(k for k, v in record.items()
                            if v.get("err") and "timeout" in v["err"]
                            and v["err"].startswith("spark"))
    fails = sorted(k for k, v in record.items()
                   if v.get("err") and "timeout" not in v["err"]
                   and v["err"] != "rows-only (no oracle)")
    # entries check_oracle.py carried forward from an earlier receipt
    # rather than re-ran (CHECK_ORACLE_MERGE tags them "seeded": true)
    seeded = sorted(k for k, v in record.items() if v.get("seeded"))
    meta = {
        "sf_dir": "/tmp/sf_scaled_10x (scripts/make_scaled_sf.py 10 --all "
                  "over /root/testdata/sf0.1; sf1-equivalent, TPC-H row "
                  "counts: lineitem 6M, orders 1.5M, events 1M, documents "
                  "50k rows)",
        "per_call_timeout_s": 240,
        "n_queries": len(record),
        "n_hash_green": n_pass,
        "n_rows_only": n_rows_only,
        "n_timeout": len(timeouts),
        "timeout_queries": timeouts,
        "spark_side_timeouts": spark_timeouts,
        "n_fail_non_timeout": len(fails),
        "fail_queries": fails,
        "n_seeded": len(seeded),
        "seeded_queries": seeded,
    }
    record_out = {"_meta": meta, **dict(sorted(record.items()))}
    with open(OUT, "w") as f:
        json.dump(record_out, f, indent=1)
    print(json.dumps({k: meta[k] for k in
                      ("n_queries", "n_hash_green", "n_rows_only",
                       "n_timeout", "n_fail_non_timeout", "n_seeded")}))
    if fails:
        print("non-timeout fails:", fails)


if __name__ == "__main__":
    main()
