"""Per-stage empirical profile of one registered query.

Boots the engine session (``session.get_spark``, Spark UI off), runs the
query once warm + once profiled through the noop sink under its own job
group, then reads that group's per-stage metrics from the live status
store: wall time, executor run/CPU time, task count, shuffle read/write
bytes, input bytes.  CPU time and byte counts are robust to host
steal/pauses, unlike wall-clock.

Usage: PYTHONPATH=. python tools/profile_query.py QUERY [k=v ...]
(each k=v sets a SQL conf for the run; PROF_WARM=N warm runs, default 1)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    name = sys.argv[1]
    overrides = dict(kv.split("=", 1) for kv in sys.argv[2:])

    import weather_etl_spark.session as sess
    from weather_etl_spark.registry import load_all

    spark = sess.get_spark(f"profile-{name}")
    for k, v in overrides.items():
        spark.conf.set(k, v)
    # Every query re-applies RUNTIME_CONFS (ensure_engine_confs); keep
    # the overrides over them.
    sess.RUNTIME_CONFS = {**sess.RUNTIME_CONFS, **overrides}

    spec = load_all()[name]
    warm = int(os.environ.get("PROF_WARM", "1"))
    for _ in range(warm):
        spec.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    sc = spark.sparkContext
    group = f"profile-{name}"
    sc.setJobGroup(group, f"profiled: {name}")
    t0 = time.perf_counter()
    spec.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0

    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:  # evicted past spark.ui.retainedJobs
            stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    no_status = sc._gateway.jvm.java.util.Collections.emptyList()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    rows = []
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        for i in range(attempts.size()):
            s = attempts.apply(i)
            rows.append({
                "stage": sid,
                "name": s.name().split("\n")[0][:70],
                "status": str(s.status()),
                "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ms": round(s.executorCpuTime() / 1e6),
                "sh_read_mb": round(s.shuffleReadBytes() / 2**20, 2),
                "sh_write_mb": round(s.shuffleWriteBytes() / 2**20, 2),
                "input_mb": round(s.inputBytes() / 2**20, 2),
            })
    print(json.dumps({
        "name": name, "overrides": overrides,
        "wall_s": round(wall, 3),
        "jobs": len(jobs), "stages": len(rows),
        "total": {
            key: round(sum(r[key] for r in rows), 2)
            for key in ("tasks", "run_ms", "cpu_ms", "sh_read_mb",
                        "sh_write_mb", "input_mb")
        },
    }))
    for r in rows:
        print(json.dumps(r))
    spark.stop()


if __name__ == "__main__":
    main()
