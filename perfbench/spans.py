"""In-memory spans, layer wrappers, Spark stage metrics and process-tree
resource readings for the benchmark.

Everything here observes the engine from outside: spans are recorded
around calls into each layer's public functions, and the wrappers that
replace ``io.read_table`` and ``sinks.idempotent_append`` are installed
on the module attributes *before* the modules that bind those names at
import time (the operator modules, ``incremental``) are imported.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class Tracer:
    """Spans and per-op counters of one traced run, kept in memory."""

    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    op: str = "setup"
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self.op, time.perf_counter(), parent=parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add(self, key: str, amount: float = 1.0) -> None:
        self.counters[key] += amount

    def total(self, name: str, ops: set[str]) -> float:
        """Summed duration of the spans called ``name`` within ``ops``."""
        return sum(s.end - s.start for s in self.spans if s.name == name and s.op in ops)

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "op": s.op, "start": s.start, "end": s.end,
             "parent": s.parent}
            for s in self.spans
        ]


class _NullTracer:
    """Stand-in for untraced runs: spans cost one generator frame."""

    op = "setup"

    @contextmanager
    def span(self, name: str):
        yield None

    def add(self, key: str, amount: float = 1.0) -> None:
        pass


NULL_TRACER = _NullTracer()


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the layer functions the engine binds by name at import time.

    Must run before ``registry.load_all()`` and before
    ``weather_etl_spark.incremental`` is imported: operator modules do
    ``from weather_etl_spark.io import read_table`` and ``incremental``
    does ``from weather_etl_spark.sinks import idempotent_append``, so a
    later patch of the module attribute would never be called.
    """
    from weather_etl_spark import io, sinks

    for late in ("weather_etl_spark.incremental", "weather_etl_spark.operators"):
        if late in sys.modules:
            raise RuntimeError(f"{late} imported before the span wrappers")

    read_table = io.read_table

    @functools.wraps(read_table)
    def traced_read_table(*args, **kwargs):
        tracer.add("io.read_table_calls")
        with tracer.span("io.read_table"):
            return read_table(*args, **kwargs)

    append = sinks.idempotent_append

    @functools.wraps(append)
    def traced_append(spark, new_rows, sink_path, key_cols):
        sc = spark.sparkContext
        group = f"{tracer.op}:append"
        sc.setJobGroup(group, f"idempotent_append for {tracer.op}")
        files_before = sink_files(sink_path)
        try:
            with tracer.span("sinks.append"):
                return append(spark, new_rows, sink_path, key_cols)
        finally:
            sc.setJobGroup(tracer.op, tracer.op)
            tracer.add("sinks.append_jobs", len(sc.statusTracker().getJobIdsForGroup(group)))
            files_after = sink_files(sink_path)
            new = set(files_after) - set(files_before)
            tracer.add("sinks.files_written", len(new))
            tracer.add("sinks.bytes_written", sum(files_after[f] for f in new))

    io.read_table = traced_read_table
    sinks.idempotent_append = traced_append

    from weather_etl_spark import incremental

    discover = incremental.discover_cursor

    @functools.wraps(discover)
    def traced_discover(*args, **kwargs):
        with tracer.span("incremental.cursor"):
            return discover(*args, **kwargs)

    incremental.discover_cursor = traced_discover


def sink_files(path: str) -> dict[str, int]:
    """Parquet part files of a sink directory and their sizes."""
    try:
        with os.scandir(path) as it:
            return {
                e.name: e.stat().st_size
                for e in it
                if e.is_file() and e.name.endswith(".parquet")
            }
    except FileNotFoundError:
        return {}


#: Stage fields summed per op: (metric, StageData accessor, scale).
_STAGE_FIELDS = (
    ("executor.cpu_s", "executorCpuTime", 1e-9),
    ("executor.run_s", "executorRunTime", 1e-3),
    ("executor.input_mb", "inputBytes", 1 / 2**20),
    ("executor.shuffle_read_mb", "shuffleReadBytes", 1 / 2**20),
    ("executor.shuffle_write_mb", "shuffleWriteBytes", 1 / 2**20),
    ("executor.spill_mb", "diskBytesSpilled", 1 / 2**20),
    ("executor.tasks", "numTasks", 1),
)


def group_stage_metrics(sc, groups: list[str]) -> dict[str, float]:
    """Sum stage metrics of every job in ``groups`` from the status store.

    Works with ``spark.ui.enabled=false``: the live AppStatusStore is
    populated either way.  Skipped stages (shuffle reuse) ran no tasks
    and are not counted.
    """
    tracker = sc.statusTracker()
    stage_ids = set()
    for group in groups:
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    no_status = gw.jvm.java.util.Collections.emptyList()
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    out = {name: 0.0 for name, _, _ in _STAGE_FIELDS}
    out["executor.stages"] = 0.0
    for sid in stage_ids:
        attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        for i in range(attempts.size()):
            data = attempts.apply(i)
            if str(data.status()) == "SKIPPED":
                continue
            out["executor.stages"] += 1
            for name, getter, scale in _STAGE_FIELDS:
                out[name] += getattr(data, getter)() * scale
            out["executor.spill_mb"] += data.memoryBytesSpilled() / 2**20
    return out


def _proc_tree(root: int) -> list[int]:
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU of a process tree, including reaped children."""
    total = 0
    for pid in _proc_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def reset_peak_rss(root: int | None = None) -> None:
    """Restart every tree process's VmHWM from its current resident set."""
    for pid in _proc_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of each live tree process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in _proc_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]
