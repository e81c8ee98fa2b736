"""A/B timing harness for conf/code experiments (guide §1: measure first).

Usage:
  PYTHONPATH=. python tools/ab_experiment.py QUERY [k=v ...]

Runs QUERY in THIS process with the engine session plus the given conf
overrides applied on top (build-time confs need a fresh process per
variant — run the script once per variant).  Methodology mirrors
bench.py --single: N warm-ups then N timed noop-sink runs, median
reported, raw runs printed.  Not part of the bench contract — a scratch
tool for the r12 optimization round.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    name = sys.argv[1]
    overrides = dict(kv.split("=", 1) for kv in sys.argv[2:])

    from pyspark.sql import SparkSession

    from weather_etl_spark.registry import load_all
    from weather_etl_spark.session import RUNTIME_CONFS, default_parallelism

    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"ab-{name}")
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold",
                str(64 * 1024 * 1024))
    )
    for k, v in {**RUNTIME_CONFS, **overrides}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # keep ensure_engine_confs from undoing runtime-settable overrides
    import weather_etl_spark.session as sess

    sess.RUNTIME_CONFS = {**RUNTIME_CONFS, **{
        k: v for k, v in overrides.items() if k in RUNTIME_CONFS
    }}

    spec = load_all()[name]

    def run_once() -> float:
        t0 = time.perf_counter()
        spec.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    def jiffies():
        try:
            with open("/proc/stat") as fh:
                vals = [int(v) for v in fh.readline().split()[1:]]
            return vals[7] if len(vals) > 7 else 0, sum(vals[:8])
        except (OSError, ValueError, IndexError):
            return None

    warm = int(os.environ.get("AB_WARM", "3"))
    n = int(os.environ.get("AB_N", "5"))
    for _ in range(warm):
        run_once()
    j0 = jiffies()
    runs = [run_once() for _ in range(n)]
    j1 = jiffies()
    steal = None
    if j0 and j1 and j1[1] > j0[1]:
        steal = round(100.0 * (j1[0] - j0[0]) / (j1[1] - j0[1]), 2)
    print(json.dumps({
        "name": name, "overrides": overrides, "runs": runs,
        "median": round(statistics.median(runs), 3), "steal_pct": steal,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
