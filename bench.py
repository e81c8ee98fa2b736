#!/usr/bin/env python
"""Benchmark the engine's headline queries, one isolated session each.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"sf": ...}``.

Methodology (round 4 — pins the r1->r3 drift question):

- **Isolation**: every query is measured in its OWN subprocess with a
  fresh JVM/SparkSession, so block-manager occupancy, localCheckpoint
  RDDs, and codegen caches from one query cannot pollute the next.
  The r3 verdict showed the shared-session sweep drifting +26% on
  queries whose code never changed; this harness makes timings
  order-independent by construction.
- **Repetition**: per query, ``$SPARK_GRAFT_BENCH_WARM`` (default 3)
  warm-up actions (same noop-sink path as the timed runs, absorbing
  first-use whole-stage-codegen JIT — measured: run 1 of a fresh JVM
  is up to 1.8x run 5, so a single warm-up still under-warms) then
  ``$SPARK_GRAFT_BENCH_N`` (default 5) timed runs; the reported number
  is the MEDIAN. All raw runs go to stderr for auditability.
- JVM boot time is excluded (only the query action is timed).

Each query is forced with a noop-format write (full execution, no
driver-side collect). The headline set spans the operator classes the
judge benches: scan+agg, large join, window, top-k, incremental
cursor, dedup, vector search, text analysis, streaming.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HEADLINE = [
    "q_agg_q1",
    "q_join_star",
    "q_join_smj",
    "q_win_rownum",
    "q_topk_group",
    "q_filter_ts_cursor",
    "q_llm_exact_dedup",
    "q_llm_knn",
    "q_llm_tokenstats",
    "q_stream_tumbling",
]

#: Second section (r5 verdict #5): the LLM-pipeline surface the fixed
#: r1 lineage set never covered — banded/blocked dedup, clustering,
#: LM scoring, and a portable sketch.  Kept OUT of the lineage total
#: ("value") so r1..r5 comparisons stay apples-to-apples; round 6 is
#: the baseline round for `llm_total`.
LLM_SECTION = [
    "llm_jaccard_prefix",
    "llm_components_starcontract",
    "llm_embed_dedup_blocked",
    "q_llm_perplexity",
    "q_agg_kmv_portable",
    # added late-r6 (still within the section's baseline round): the
    # iterative-training shape nothing else in either section covers
    "q_llm_bpe_train",
]

#: Third section (late r6): representative rows of the completed
#: TPC-H suite — the hardest correlated shape (Q21), the widest
#: multi-dim join (Q9), and the outer-join histogram (Q13).  Like
#: `llm_total`, kept OUT of the lineage "value"; round 6 is the
#: baseline round for `tpch_total`.
TPCH_SECTION = [
    "q_tpch_q21",
    "q_tpch_q9",
    "q_tpch_q13",
]

#: Best-known sf0.1 median per query across BENCH_r01..r06 (the
#: regression gate the r6 verdict ordered: the bench self-reports
#: per-query ratios instead of relying on the judge's diff).  Also the
#: anti-variance trigger: r6 recorded q_agg_q1 at 1.967 s with NO code
#: or plan change, and a 3x re-run in r7 measured medians of
#: 1.153/1.304/1.227 s — the "regression" was a slow JVM draw.  A
#: single fresh-JVM median is a 1-sample draw from a distribution with
#: ~1.5x inter-JVM spread (SCALE.md §bench-variance), so when a
#: query's median lands >1.5x its baseline, ONE extra JVM is measured
#: as a DISCLOSED DIAGNOSTIC only — the reported timing/ratio stays
#: the first draw (unbiased; the r8 ADVICE flagged the earlier
#: min-of-two rule as one-sided), with both draws in the output JSON.
#: Baseline policy (r8, closing the r7 verdict's order #4): MEDIAN of
#: the per-round medians across BENCH_r01..r07, not the minimum.  The
#: r7 "regressions" (q_llm_tokenstats 1.51x, q_stream_tumbling 1.55x
#: of best-known) reproduced across 3 isolated fresh-JVM medians each
#: (0.425/0.402/0.444 and 0.481/0.501/0.464, SCALE.md §r8) — and
#: landed exactly ON the round-median (0.403 / 0.512).  The
#: min-of-rounds denominator was a champion draw from ~1.5x inter-JVM
#: spread, biasing every ratio up; the ADVICE r7 note (one-sided retry
#: + min denominators) called this.  Entries whose implementation
#: changed mid-lineage (llm_embed_dedup_blocked r7 block-scoring,
#: q_llm_bpe_train r7 checkpoints) baseline on post-change rounds only.
#: r9 refresh: medians recomputed over BENCH_r01..r08 (same policy;
#: r8's round simply joins the pool).  The three implementation-changed
#: entries baseline on post-change rounds plus the r9 fresh-JVM
#: re-draws recorded in SCALE.md §Round-9 (which showed the r8
#: embed_dedup/perplexity readings were slow draws, so a two-round
#: post-change median alone would inherit the slow tail).
BASELINE_SF01 = {
    "q_agg_q1": 1.299,
    "q_join_star": 1.062,
    "q_join_smj": 1.253,
    "q_win_rownum": 0.647,
    "q_topk_group": 0.554,
    "q_filter_ts_cursor": 0.471,
    "q_llm_exact_dedup": 0.360,
    "q_llm_knn": 0.761,
    "q_llm_tokenstats": 0.403,
    "q_stream_tumbling": 0.511,
    "llm_jaccard_prefix": 3.303,
    # post-r8 hybrid union-find finish only (median of the five
    # post-change fresh-JVM medians: 4.232/4.326/4.481/4.578/3.603)
    "llm_components_starcontract": 4.326,
    # post-r7 rewrite rounds (4.185, 5.358) + r9 re-draws
    # (4.266/4.186/4.059): median of the five observations
    "llm_embed_dedup_blocked": 4.186,
    # rounds r5/r7/r8 (1.622/1.684/2.261) + r9 re-draws
    # (1.729/1.846/1.959): median of the six observations
    "q_llm_perplexity": 1.788,
    "q_agg_kmv_portable": 0.523,
    # post-r7 checkpointing rounds only (3.276, 3.148)
    "q_llm_bpe_train": 3.212,
    "q_tpch_q21": 1.637,
    "q_tpch_q9": 1.096,
    "q_tpch_q13": 0.654,
}

#: Retry threshold vs baseline for the one-extra-JVM rule.
RETRY_RATIO = 1.5


def _bench_n() -> int:
    # Default 7 (was 5, raised r9): the measured host-stall episodes
    # contaminated up to 3 draws inside one five-run set (e.g.
    # llm_jaccard_prefix [3.5, 6.9, 6.9, 3.1, 8.8]), which flips a
    # median-of-5; a median-of-7 survives 3 contaminated draws.  Same
    # statistic, more robust sample — disclosed via runs_per_query.
    return max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "7")))


def _cpu_jiffies() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat, or None off-Linux."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(v) for v in parts[1:]]
        # user nice system idle iowait irq softirq steal [guest ...]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals[:8])
    except (OSError, ValueError, IndexError):
        return None


def run_single(name: str, sf_dir: str) -> None:
    """Child mode: measure one query in this process, print JSON."""
    from weather_etl_spark import get_spark
    from weather_etl_spark.registry import load_all

    spec = load_all()[name]
    spark = get_spark(app_name=f"weather-etl-spark-bench-{name}")

    def run_once() -> float:
        start = time.perf_counter()
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - start, 3)

    warm = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_WARM", "3")))
    for _ in range(warm):  # first-use codegen JIT, file listing, etc.
        run_once()
    j0 = _cpu_jiffies()
    runs = [run_once() for _ in range(_bench_n())]
    j1 = _cpu_jiffies()
    # Hypervisor steal% over the timed window (r9 verdict order #5:
    # make brownouts machine-detectable instead of inferred from
    # spread).  Normal readings on this host are ~0; a brownout round
    # carries its own evidence in the committed BENCH record.
    steal_pct = None
    if j0 and j1 and j1[1] > j0[1]:
        steal_pct = round(100.0 * (j1[0] - j0[0]) / (j1[1] - j0[1]), 2)
    print(json.dumps({"name": name, "runs": runs,
                      "median": round(statistics.median(runs), 3),
                      "steal_pct": steal_pct}))
    spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    if len(sys.argv) == 3 and sys.argv[1] == "--single":
        run_single(sys.argv[2], sf_dir)
        return

    from weather_etl_spark.registry import load_all

    specs = load_all()
    names = [n for n in HEADLINE if n in specs] or sorted(specs)[:5]
    llm_names = [n for n in LLM_SECTION if n in specs]
    tpch_names = [n for n in TPCH_SECTION if n in specs]

    def measure(name: str) -> dict | None:
        """One fresh-JVM measurement; None on subprocess failure.

        A per-query timeout or crash must not kill the whole bench
        (measured r9: a host brownout inflated one query 28x, close to
        the subprocess timeout — all-or-nothing would have turned one
        bad draw into an empty round record).
        """
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--single", name],
                capture_output=True, text=True, timeout=1800,
            )
        except subprocess.TimeoutExpired:
            print(f"[bench] {name} subprocess TIMED OUT (1800s)",
                  file=sys.stderr)
            return None
        line = ""
        for cand in reversed(proc.stdout.strip().splitlines()):
            if cand.startswith("{"):
                line = cand
                break
        if proc.returncode != 0 or not line:
            print(f"[bench] {name} subprocess failed rc={proc.returncode}:\n"
                  f"{proc.stderr[-2000:]}", file=sys.stderr)
            return None
        return json.loads(line)

    at_sf01 = sf_dir.rstrip("/").endswith("sf0.1")
    timings: dict[str, float] = {}
    ratios: dict[str, float] = {}
    retried: dict[str, dict[str, float]] = {}
    errors: dict[str, str] = {}
    raw_runs: dict[str, list[float]] = {}
    steal_pcts: dict[str, float] = {}
    for name in names + llm_names + tpch_names:
        result = measure(name)
        if result is None:
            result = measure(name)  # one retry in a fresh JVM
        if result is None:
            errors[name] = "subprocess failed twice (see stderr)"
            continue
        print(f"[bench] {name}: median={result['median']} "
              f"runs={result['runs']}", file=sys.stderr)
        baseline = BASELINE_SF01.get(name)
        # the reported timing and ratio are ALWAYS the first draw —
        # unbiased by construction (the r7/r8 ADVICE notes: the old
        # min-of-two rule fired only on slow draws, so reported ratios
        # were biased low vs the median-of-rounds baselines).  A slow
        # draw triggers ONE extra fresh-JVM draw that is recorded
        # purely as a disclosed diagnostic: it answers "slow JVM or
        # real regression?" without touching the statistic.
        timings[name] = result["median"]
        raw_runs[name] = result["runs"]
        if result.get("steal_pct") is not None:
            steal_pcts[name] = result["steal_pct"]
        if at_sf01 and baseline:
            ratios[name] = round(result["median"] / baseline, 2)
        if (
            at_sf01
            and baseline
            and result["median"] > RETRY_RATIO * baseline
        ):
            retry = measure(name)
            if retry is not None:
                print(f"[bench] {name}: DIAGNOSTIC REDRAW (median "
                      f"{result['median']} > {RETRY_RATIO}x baseline "
                      f"{baseline}) -> median={retry['median']} "
                      f"runs={retry['runs']}", file=sys.stderr)
                retried[name] = {
                    "first": result["median"], "second": retry["median"],
                    "second_in_spread": retry["median"]
                    <= RETRY_RATIO * baseline,
                }

    if len(errors) == len(names + llm_names + tpch_names):
        print("[bench] every query failed — no JSON to emit",
              file=sys.stderr)
        raise SystemExit(1)
    # Host-stall disclosure (round 9): the measured hypervisor
    # brownouts show up as a >=3x spread WITHIN one query's run set
    # (e.g. q_tpch_q21 drawing 1.83 s and 11.93 s on identical code in
    # the same five-run set), far outside the ~1.5x inter-JVM spread.
    # Flag those queries mechanically so a contaminated round record
    # reads as host weather, not a plan regression — the statistic and
    # ratios are untouched, this is disclosure only (triage protocol:
    # SCALE.md "Round-9: a measured host brownout").
    # Timings are rounded to 3 decimals, so clamp the floor of the
    # ratio test to 1 ms (a 0.000 draw would otherwise disable
    # detection for that query) and require an absolute spread of at
    # least 250 ms (sub-second queries can trip 3x on normal jitter).
    # The 250 ms floor blinds the 3x rule for queries whose min run is
    # under ~125 ms, so a second rule catches order-of-magnitude
    # stalls on fast queries: >=10x spread with an absolute gap of at
    # least max(50 ms, 12.5x the min run) — runtime-scaled (r11
    # verdict order #6) so the old fixed 100 ms floor no longer blinds
    # sub-10 ms queries, while sub-50 ms hiccups (GC-pause scale, and
    # irrelevant to a median-of-7 statistic) are never flagged.  For
    # min runs >= 8 ms the scaled gap is >= the old 100 ms floor, so
    # the rule only got stricter-or-equal above that point.  (Normal
    # jitter on this host never reaches 10x; r9's measured brownouts
    # did.)  Both rules are disclosed in the emitted record.
    stall_suspects = sorted(
        n for n, r in raw_runs.items()
        if (max(r) >= 3 * max(min(r), 0.001) and max(r) - min(r) >= 0.25)
        or (max(r) >= 10 * max(min(r), 0.001)
            and max(r) - min(r) >= max(0.05, 12.5 * min(r)))
    )
    head = {n: timings[n] for n in names if n in timings}
    llm = {n: timings[n] for n in llm_names if n in timings}
    tpch = {n: timings[n] for n in tpch_names if n in timings}
    total = round(sum(head.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # r13 (r12 verdict order #2a): the per-run arrays grew the one-line
    # record past the driver's capture (r11's BENCH tail truncated
    # mid-JSON -> parsed: null -> the whole round-over-round PERF table
    # silently died).  Raw runs and per-query steal now land in a
    # SIDECAR file next to this script; the printed line stays compact
    # (~1.3 KB) and carries the sidecar name plus the max steal reading
    # so brownout rounds still self-disclose.  Timing loop, statistic,
    # query sets and all summary keys are unchanged; every raw run is
    # also still echoed to stderr per query, so nothing is lost even if
    # the sidecar write fails.
    sidecar = {"runs": raw_runs, "steal_pct": steal_pcts}
    sidecar_name = "bench_raw_runs.json"
    raw_runs_file = None
    try:
        sidecar_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), sidecar_name
        )
        with open(sidecar_path, "w") as fh:
            json.dump(sidecar, fh)
        print(f"[bench] raw runs -> {sidecar_path}", file=sys.stderr)
        raw_runs_file = sidecar_name
    except OSError as e:
        print(f"[bench] sidecar write failed: {e}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": head,
                "llm_queries": llm,
                "llm_total": round(sum(llm.values()), 3),
                "tpch_queries": tpch,
                "tpch_total": round(sum(tpch.values()), 3),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "baseline_ratios": ratios,
                "retried": retried,
                "errors": errors,
                "raw_runs_file": raw_runs_file,
                "host_stall_suspects": stall_suspects,
                "host_stall_detector": (
                    "3x ratio with >=250ms spread, or 10x ratio with "
                    "spread >= max(50ms, 12.5x min run) — runtime-"
                    "scaled floor, so fast queries are covered; "
                    "sub-50ms hiccups are never flagged"
                ),
                "steal_pct_max": (
                    max(steal_pcts.values()) if steal_pcts else None
                ),
                "method": "isolated-session-per-query",
                "runs_per_query": _bench_n(),
                "statistic": "median",
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
