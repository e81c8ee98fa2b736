#!/usr/bin/env python3
"""Steadiness check: run every workload on several seeds and compare the
spread of each end-to-end metric with its bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/baseline/<file>.json
    python3 perfbench/steady.py --seeds 11-15 --workloads ingest --trace

Runs are sequential (one engine at a time).  For each workload and
metric the report gives the median, the quartiles and the spread
(Q3 - Q1) / median of Python's ``statistics.quantiles(values, n=4)``,
next to the metric's bound.  Every run's host and summary records are
kept in the output, tagged with their run ids.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    if proc.returncode != 0 or len(lines) < 3:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    host, summary, result = lines[-3:]
    if host["run_id"] != summary["run_id"]:
        raise SystemExit(f"{workload} seed {seed}: records of different runs")
    if "spans" in summary:  # keep the report small: span count only
        summary["spans"] = len(summary["spans"])
    return {"wall_s": time.perf_counter() - t0, "host": host,
            "summary": summary, "result": result}


def spread_table(runs: list[dict], bounds: dict) -> dict:
    table = {}
    for name in runs[0]["result"]["metrics"]:
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        table[name] = {**stats.quartiles(values), "bound": bounds.get(name),
                       "values": values}
    return table


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--trace", action="store_true",
                    help="per-layer runs instead of end-to-end runs")
    ap.add_argument("--out", type=Path)
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"seconds": spec["run_seconds"], "trace": int(args.trace),
              "workloads": {}}
    for workload in args.workloads:
        runs = []
        for seed in _seeds(args.seeds):
            runs.append(run_once(workload, seed, spec["run_seconds"], int(args.trace)))
            r = runs[-1]
            print(f"{workload} seed={seed} wall={r['wall_s']:.1f}s "
                  f"steal={r['host']['steal_pct']:.1f}% run_id={r['host']['run_id']}",
                  flush=True)
        table = spread_table(runs, bounds) if len(runs) >= 2 else {}
        report["workloads"][workload] = {"metrics": table, "runs": runs}
        for name, row in table.items():
            spread, bound, flag = row["spread"], row["bound"], ""
            if bound is not None:
                flag = "ok" if spread < bound / 3 else (
                    "within bound" if spread < bound else "TOO WIDE")
            print(f"  {name:28s} median={row['median']:.4g} "
                  f"spread={spread:.3f} "
                  f"bound={bound} {flag}")
    if args.out:
        args.out.parent.mkdir(parents=True, exist_ok=True)
        args.out.write_text(json.dumps(report, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
