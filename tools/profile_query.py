"""Per-stage empirical profile of one registered query (guide §1.1/§7.1).

Boots an engine session WITH the UI enabled, runs the query once warm +
once profiled through the noop sink, then scrapes the REST API for
per-stage metrics: wall time, executor run/CPU time, task count, shuffle
read/write bytes, input bytes.  CPU time and byte counts are robust to
host steal/pauses, unlike wall-clock.

Usage: PYTHONPATH=. python tools/profile_query.py QUERY [k=v ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
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
        .appName(f"profile-{name}")
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold",
                str(64 * 1024 * 1024))
    )
    for k, v in {**RUNTIME_CONFS, **overrides}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import weather_etl_spark.session as sess

    sess.RUNTIME_CONFS = {**RUNTIME_CONFS, **{
        k: v for k, v in overrides.items() if k in RUNTIME_CONFS
    }}

    spec = load_all()[name]
    warm = int(os.environ.get("PROF_WARM", "1"))
    for _ in range(warm):
        spec.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def api(path: str):
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}{path}") as r:
            return json.load(r)

    jobs_before = {j["jobId"] for j in api("/jobs")}
    stages_before = {s["stageId"] for s in api("/stages")}

    t0 = time.perf_counter()
    spark.sparkContext.setJobDescription(f"profiled: {name}")
    spec.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0

    new_jobs = [j for j in api("/jobs") if j["jobId"] not in jobs_before]
    new_stages = [s for s in api("/stages")
                  if s["stageId"] not in stages_before]
    rows = []
    tot = dict(tasks=0, run_ms=0, cpu_ms=0, sh_r=0, sh_w=0, inp=0)
    for s in sorted(new_stages, key=lambda s: s["stageId"]):
        cpu_ms = s.get("executorCpuTime", 0) / 1e6
        rows.append({
            "stage": s["stageId"],
            "name": s["name"].split("\n")[0][:70],
            "status": s["status"],
            "tasks": s["numCompleteTasks"] + s["numFailedTasks"],
            "run_ms": s.get("executorRunTime", 0),
            "cpu_ms": round(cpu_ms),
            "sh_read_mb": round(s.get("shuffleReadBytes", 0) / 2**20, 2),
            "sh_write_mb": round(s.get("shuffleWriteBytes", 0) / 2**20, 2),
            "input_mb": round(s.get("inputBytes", 0) / 2**20, 2),
        })
        tot["tasks"] += rows[-1]["tasks"]
        tot["run_ms"] += rows[-1]["run_ms"]
        tot["cpu_ms"] += rows[-1]["cpu_ms"]
        tot["sh_r"] += s.get("shuffleReadBytes", 0)
        tot["sh_w"] += s.get("shuffleWriteBytes", 0)
        tot["inp"] += s.get("inputBytes", 0)
    print(json.dumps({
        "name": name, "overrides": overrides,
        "wall_s": round(wall, 3),
        "jobs": len(new_jobs), "stages": len(new_stages),
        "total": {
            "tasks": tot["tasks"], "run_ms": tot["run_ms"],
            "cpu_ms": tot["cpu_ms"],
            "sh_read_mb": round(tot["sh_r"] / 2**20, 2),
            "sh_write_mb": round(tot["sh_w"] / 2**20, 2),
            "input_mb": round(tot["inp"] / 2**20, 2),
        },
    }))
    for r in rows:
        print(json.dumps(r))
    spark.stop()


if __name__ == "__main__":
    main()
