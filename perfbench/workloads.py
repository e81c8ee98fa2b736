"""The benchmark's workloads: closed loops with a single client.

Each workload runs in one process on one warm engine session.  The next
operation starts only when the previous one has finished.  Every
operation's output is checked; a raised error, a non-200 result
envelope or a failed check counts as a failed operation.
"""

from __future__ import annotations

import datetime
import hashlib
import importlib.util
import math
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

import datagen
import stats
import spans as tr

ANALYTICS = (
    "q_agg_q1", "q_join_star", "q_join_smj", "q_win_rownum", "q_topk_group",
    "q_filter_ts_cursor", "q_tpch_q21", "q_tpch_q9", "q_tpch_q13",
    "q_stream_tumbling",
)
#: The two LLM-curation rows whose warm passes fit the benchmark's time
#: budget: the iterative component contraction, whose build launches
#: eager ``localCheckpoint`` jobs, and the MinHash banding row.
LLM_CURATION = ("llm_components_starcontract", "llm_minhash_banded")


@dataclass
class Run:
    """State of one benchmark run, shared by setup and the op loop."""

    root: Path
    work: Path
    run_id: str
    seed: int
    traced: bool
    tracer: object = tr.NULL_TRACER
    counter: stats.OpCounter = field(default_factory=stats.OpCounter)
    latencies: list[float] = field(default_factory=list)
    measured_ops: set[str] = field(default_factory=set)
    layer: dict[str, float] = field(default_factory=dict)
    setup: dict[str, float] = field(default_factory=dict)
    marks: list[tuple[str, float]] = field(default_factory=list)
    op_cpu_s: list[float] = field(default_factory=list)
    peak_rss_mb: float = 0.0
    setup_started: tuple[float, float] = (0.0, 0.0)
    spark: object = None

    def add_layer(self, key: str, amount: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + amount

    def mark(self, phase: str) -> None:
        """Note that ``phase`` of the run just ended (for the run record)."""
        self.marks.append((phase, time.perf_counter()))

    def end_setup(self) -> None:
        """Set-up is over: record its CPU time (``setup_s``) and wall time."""
        t0, cpu0 = self.setup_started
        self.setup["setup_s"] = tr.tree_cpu_s() - cpu0
        self.setup["setup_wall_s"] = time.perf_counter() - t0

    def end_warmup(self) -> None:
        """Forget what warm-up ops added to the per-layer sums and to the
        peak resident sets."""
        self.layer.clear()
        tr.reset_peak_rss()
        if self.traced:
            self.tracer.counters.clear()


def boot(run: Run) -> None:
    """Session boot + registry load: the set-up every workload pays."""
    if run.traced:
        run.tracer = tr.Tracer()
        tr.install_layer_wrappers(run.tracer)
    from weather_etl_spark import registry, session

    t0 = time.perf_counter()
    run.setup_started = (t0, tr.tree_cpu_s())
    run.spark = session.get_spark(f"perfbench-{run.run_id}")
    t1 = time.perf_counter()
    registry.load_all()
    t2 = time.perf_counter()
    run.setup["session.boot_s"] = t1 - t0
    run.setup["registry.load_s"] = t2 - t1
    run.mark("setup")


def _load_oracle_utils(root: Path):
    """tests/oracle_utils.py is a plain module in a non-package directory."""
    spec = importlib.util.spec_from_file_location(
        "oracle_utils", root / "tests" / "oracle_utils.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _canon(value):
    """Floats to 12 significant digits, so the one-ulp differences between
    Spark's and DuckDB's ROUND of a double near 1e9 (seen on q_agg_q1 and
    q_join_smj at sf0.1) do not read as wrong results."""
    if isinstance(value, float) and math.isfinite(value):
        return float(f"{value:.12g}")
    if isinstance(value, (list, tuple)):
        return [_canon(v) for v in value]
    return value


def _digest(oracle, cols, rows) -> str:
    norm = oracle._normalize_rows(cols, [tuple(_canon(v) for v in r) for r in rows])
    return hashlib.sha256(repr(norm).encode()).hexdigest()


def _trace_op(run: Run, groups: list[str], build_group: str) -> None:
    sc = run.spark.sparkContext
    metrics = tr.group_stage_metrics(sc, groups)
    for key, value in metrics.items():
        run.add_layer(key, value)
    run.add_layer(
        "operators.build_jobs",
        len(sc.statusTracker().getJobIdsForGroup(build_group)),
    )
    run.add_layer(
        "checkpoints.pinned_rdds", len(sc._jsc.getPersistentRDDs())
    )


def query_loop(
    run: Run, names: tuple[str, ...], sf: float, warm_passes: int, passes: int
) -> None:
    """Build, plan and execute registered queries, pass after pass.

    Inputs are generated from the seed.  Each pass runs every query once,
    in a seeded order.  The first ``warm_passes`` are an unmeasured
    warm-up: the first execution of a query in a fresh JVM pays JIT and
    code-generation costs that depend on which queries ran before it, so
    a cold pass's latencies move with the seeded order.  Every result, warm-up
    included, is compared with its DuckDB oracle (same normalization as
    tests/oracle_utils).
    """
    sf_dir = str(run.work / "data")
    datagen.write_tables(sf_dir, run.seed, sf)
    run.mark("inputs")
    boot(run)
    run.end_setup()
    from weather_etl_spark import checkpoints, registry

    specs = {n: registry.REGISTRY[n] for n in names}
    oracle = _load_oracle_utils(run.root)
    con = oracle.duck_con(sf_dir)
    expected = {}
    for name, spec in specs.items():
        cur = con.execute(spec.oracle)
        cols = [d[0].lower() for d in cur.description]
        expected[name] = (sorted(cols), _digest(oracle, cols, cur.fetchall()))
    con.close()
    run.mark("oracle")

    spark, sc = run.spark, run.spark.sparkContext
    rng = np.random.default_rng(run.seed)
    schedule = [
        ("warmup" if p < warm_passes else f"pass{p}", str(name))
        for p in range(warm_passes + passes) for name in rng.permutation(names)
    ]
    for i, (stage, name) in enumerate(schedule):
        op = f"{run.run_id}:{stage}:{name}"
        run.tracer.op = op
        build_group, exec_group = f"{op}:build", f"{op}:exec"
        try:
            sc.setJobGroup(build_group, name)
            cpu0 = tr.tree_cpu_s()
            t0 = time.perf_counter()
            with run.tracer.span("operators.build"):
                df = specs[name].fn(spark, sf_dir)
            sc.setJobGroup(exec_group, name)
            with run.tracer.span("operators.plan"):
                df._jdf.queryExecution().executedPlan()
            with run.tracer.span("operators.exec"):
                rows = df.collect()
            latency = time.perf_counter() - t0
            cpu = tr.tree_cpu_s() - cpu0
            cols = [c.lower() for c in df.columns]
            want_cols, want_digest = expected[name]
            ok = sorted(cols) == want_cols and want_digest == _digest(oracle, cols, rows)
            run.counter.record(ok, f"{name}: result differs from its oracle")
        except Exception as err:  # noqa: BLE001 - a failed op is data
            run.counter.record(False, f"{name}: {type(err).__name__}: {err}")
            continue
        finally:
            if run.traced:
                _trace_op(run, [build_group, exec_group], build_group)
            checkpoints.release_session_checkpoints(spark)
        if stage != "warmup":
            run.latencies.append(latency)
            run.op_cpu_s.append(cpu)
            run.measured_ops.add(op)
        elif i == warm_passes * len(names) - 1:
            run.end_warmup()
            run.mark("warmup")
    run.mark("measure")


# --- ingest ---------------------------------------------------------------

SLOT_S = 900  # the reference's 15-minute grid
WINDOW = 192  # 2 days of 15-minute slots, as the reference requests
#: History seeded into the sink during set-up, in one append: two weeks,
#: which leaves a sink of about 8 files.  A chosen depth, not the
#: reference's: its sink is a table that one append per scheduled run has
#: grown for as long as it has been deployed.
HISTORY_SLOTS = 14 * 96
NAN_RATE = 1 / 37  # the engine's documented NaN density


class Timeline:
    """The seeded weather series every ingest op slices its window from."""

    def __init__(self, seed: int, slots: int) -> None:
        from weather_etl_spark.sources.fetch import MEASURES

        rng = np.random.default_rng(seed)
        self.measures = MEASURES
        day = int(rng.integers(0, 365))
        self.start_s = 1_704_067_200 + day * 86_400  # a day of 2024, UTC
        self.values = rng.normal(
            10.0 * np.arange(1, len(MEASURES) + 1), 3.0, (slots, len(MEASURES))
        ).astype(np.float32)
        self.values[rng.random(self.values.shape) < NAN_RATE] = np.nan

    def slot_time(self, slot: int) -> datetime.datetime:
        """Naive UTC, as the engine's collected timestamps are under TZ=UTC."""
        return datetime.datetime.fromtimestamp(
            self.start_s + slot * SLOT_S, datetime.timezone.utc
        ).replace(tzinfo=None)

    def nulls_before(self, end: int) -> int:
        return int(np.isnan(self.values[:end]).sum())

    def transport(self, first: int, end: int, tracer):
        """Wire transport for slots [first, end): encodes one FlatBuffers
        frame per call and returns the client-side decode.  It never
        fails, since no source gives the reference's failure rate; a call
        after the first of a fetch would be the source's retry."""
        from weather_etl_spark.sources.fetch import decode_timeseries_frames
        from weather_etl_spark.sources.flatbuf import (
            encode_timeseries,
            frame_messages,
        )

        calls = {"n": 0}

        def transport() -> dict:
            calls["n"] += 1
            if calls["n"] > 1:
                tracer.add("sources.retries")
            wire = frame_messages([
                encode_timeseries(
                    self.start_s + first * SLOT_S,
                    self.start_s + end * SLOT_S,
                    SLOT_S,
                    {m: self.values[first:end, i] for i, m in enumerate(self.measures)},
                )
            ])
            tracer.add("sources.wire_bytes", len(wire))
            return decode_timeseries_frames(wire)

        return transport


def _sink_check(sink: str, timeline: Timeline, end: int) -> str:
    """'' when the sink holds exactly slots [0, end), else why not."""
    import duckdb

    nulls = " + ".join(f"count(*) - count({m})" for m in timeline.measures)
    con = duckdb.connect()
    try:
        n, distinct, lo, hi, off_grid, null_cells = con.execute(
            f"SELECT count(*), count(DISTINCT date), epoch(min(date)), "
            f"epoch(max(date)), count(*) FILTER (WHERE epoch(date) % {SLOT_S} <> 0), "
            f"{nulls} FROM read_parquet('{sink}/*.parquet')"
        ).fetchone()
    finally:
        con.close()
    want = (end, end, timeline.start_s, timeline.start_s + (end - 1) * SLOT_S,
            0, timeline.nulls_before(end))
    got = (n, distinct, int(lo), int(hi), off_grid, int(null_cells))
    return "" if got == want else f"sink (rows, keys, min, max, off-grid, nulls) {got} != {want}"


def ingest(run: Run, warm_ops: int, ops: int) -> None:
    """One op is one scheduled run: fetch a 192-slot window over the wire,
    then cursor-filter, NaN-normalize and keyed-append it to a Parquet
    sink.  Each op's window is one slot later than the previous one's,
    so it carries one new row and 191 the cursor drops."""
    sink = str(run.work / "sink")
    boot(run)
    timeline = Timeline(run.seed, HISTORY_SLOTS + warm_ops + ops)
    from weather_etl_spark.incremental import run_incremental
    from weather_etl_spark.sources.fetch import MEASURES, fetch_timeseries

    def scheduled_run(first: int, end: int) -> dict:
        with run.tracer.span("sources.fetch"):
            df = fetch_timeseries(
                run.spark, timeline.transport(first, end, run.tracer),
                sleep=lambda _s: None,
            )
        with run.tracer.span("incremental.run"):
            return run_incremental(
                run.spark, df, sink, ["date"], "date",
                now=timeline.slot_time(end - 1), float_cols=MEASURES,
            )

    t1 = time.perf_counter()
    seeded = scheduled_run(0, HISTORY_SLOTS)
    run.setup["sinks.seed_s"] = time.perf_counter() - t1
    run.end_setup()
    run.mark("seed")
    if seeded.get("statusCode") != 200 or _sink_check(sink, timeline, HISTORY_SLOTS):
        run.counter.record(False, f"sink seeding failed: {seeded}")
        return

    sc = run.spark.sparkContext
    for k in range(warm_ops + ops):
        end = HISTORY_SLOTS + k + 1
        op = f"{run.run_id}:{k}:ingest"
        run.tracer.op = op
        sc.setJobGroup(op, op)
        try:
            cpu0 = tr.tree_cpu_s()
            t0 = time.perf_counter()
            envelope = scheduled_run(end - WINDOW, end)
            latency = time.perf_counter() - t0
            cpu = tr.tree_cpu_s() - cpu0
        except Exception as err:  # noqa: BLE001 - a failed op is data
            run.counter.record(False, f"{op}: {type(err).__name__}: {err}")
            continue
        want = {
            "statusCode": 200,
            "records_fetched": WINDOW,
            "records_inserted": 1,
            "latest_cursor": timeline.slot_time(end - 1).isoformat(),
        }
        got = {key: envelope.get(key) for key in want}
        problem = "" if got == want else f"envelope {got} != {want}"
        problem = problem or _sink_check(sink, timeline, end)
        run.counter.record(not problem, f"{op}: {problem}")
        if run.traced:
            for key, value in tr.group_stage_metrics(sc, [op, f"{op}:append"]).items():
                run.add_layer(key, value)
            run.add_layer("incremental.rows_fetched", envelope.get("records_fetched") or 0)
            run.add_layer("incremental.rows_inserted", envelope.get("records_inserted") or 0)
        if k >= warm_ops:
            run.latencies.append(latency)
            run.op_cpu_s.append(cpu)
            run.measured_ops.add(op)
        elif k == warm_ops - 1:
            run.end_warmup()
            run.mark("warmup")
    run.mark("measure")
    files = tr.sink_files(sink)
    run.layer["sinks.sink_files"] = float(len(files))
    run.layer["sinks.sink_bytes"] = float(sum(files.values()))
    run.layer["sinks.sink_rows"] = float(HISTORY_SLOTS + warm_ops + ops)
