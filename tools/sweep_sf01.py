"""Measure every registered query at sf0.1: one warm run each via a
noop-style count, printing name,seconds sorted descending. Source of
the SCALE.md appendix numbers."""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from weather_etl_spark.checkpoints import release_session_checkpoints
from weather_etl_spark.registry import load_all
from weather_etl_spark.session import get_spark

SF = "/root/testdata/sf0.1"


def main() -> None:
    spark = get_spark("sweep")
    specs = load_all()
    times = {}
    for name, spec in specs.items():
        t0 = time.perf_counter()
        try:
            spec.fn(spark, SF).count()
            times[name] = round(time.perf_counter() - t0, 2)
        except Exception as e:  # noqa: BLE001
            times[name] = -1.0
            print(f"{name},ERROR,{type(e).__name__}: {e}", flush=True)
        # query boundary: drop localCheckpoint blocks + caches so each
        # row's timing is order-independent (SCALE.md appendix note)
        release_session_checkpoints(spark)
    for name, sec in sorted(times.items(), key=lambda kv: -kv[1]):
        print(f"{name},{sec}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
