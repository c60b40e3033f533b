"""Time the fixed cost of one Python task in a warm local session.

For each n in 4/8/16/32 it times, into the noop sink, a JVM-only
``repartition(n)`` and the same plan followed by an identity ``mapInArrow``
(best of 3, after one untimed run of each). The n Python tasks run in
n / cores waves, so the per-task floor is the wall difference per wave:
``(python_s - jvm_s) * cores / n``. Prints one JSON line.

    python scripts/task_floor.py                           # get_spark's daemon
    python scripts/task_floor.py --daemon pyspark.daemon   # Spark's stock daemon
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ROWS_PER_PARTITION = 256
REPS = 3


def identity(batches):
    yield from batches


def best_wall(df) -> float:
    df.write.format("noop").mode("overwrite").save()  # warm-up, untimed
    walls = []
    for _ in range(REPS):
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        walls.append(time.monotonic() - t0)
    return min(walls)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--daemon", default=None,
                    help="spark.python.daemon.module (default: get_spark's)")
    args = ap.parse_args()

    from ocr_spark.session import default_cores, get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.daemon:
        conf["spark.python.daemon.module"] = args.daemon
    cores = default_cores()
    spark = get_spark(app_name="task_floor", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        per_n = {}
        for n in (4, 8, 16, 32):
            jvm = spark.range(n * ROWS_PER_PARTITION).repartition(n)
            jvm_s = best_wall(jvm)
            python_s = best_wall(jvm.mapInArrow(identity, jvm.schema))
            per_n[n] = {"jvm_s": round(jvm_s, 3), "python_s": round(python_s, 3),
                        "floor_s": round((python_s - jvm_s) * cores / n, 3)}
        print(json.dumps({
            "metric": "python_task_floor_s", "unit": "s", "cores": cores,
            "daemon": spark.conf.get("spark.python.daemon.module"),
            "partitions": per_n,
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
