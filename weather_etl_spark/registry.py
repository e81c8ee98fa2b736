"""Declared-query registry: the engine's correctness contract.

Every operator from SURVEY.md §2 Part B registers here as a
:class:`QuerySpec` — a Spark callable ``(spark, sf_dir) -> DataFrame``
plus (when SQL-expressible) the equivalent DuckDB oracle SQL.  The
driver contract (``__spark_entry__.py``) simply re-exports this
registry; the engine's own pytest suite differentially verifies every
entry against DuckDB before it is ever declared.

Driver order: the external driver checks only the first 50 entries of
``queries()`` per round and records each round in the repo root's
``CORRECTNESS_r{N}.json``.  :func:`load_all` derives the order from
those files on every load (never-checked rows first, then the stalest
green round, oracled before rows-only, then registration order), so a
new verdict file re-orders the registry with no ledger to edit.

Oracle-hardening rules (SURVEY.md §7.4) every registered query follows:
  1. money sums via DECIMAL(18,2) casts, emitted as DOUBLE;
  2. other float outputs ROUND(x, 4) in both engines;
  3. every computed column aliased identically in both engines;
  4. top-k/limit queries carry a full unique tie-break;
  5. timestamps emitted as epoch-us bigints / dates / strings, never raw;
  6. no approx_*, unordered collect_list, locale-dependent fns in exact
     oracles.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => rows-only check
    doc: str = ""
    scale_notes: str = field(default="", repr=False)


REGISTRY: dict[str, QuerySpec] = {}

#: Default 100 TB scale note per operator family (first matching prefix).
#: An explicit per-op ``scale_notes`` always wins; these document the
#: shared physical shape of the family (details in SCALE.md).
FAMILY_SCALE_NOTES: list[tuple[str, str]] = [
    (
        "q_fn_",
        "Embarrassingly parallel codegen'd JVM expressions, zero shuffle; "
        "scale cost is the pruned/pushed-down scan (SCALE.md §2).",
    ),
    (
        "q_win_",
        "One shuffle on the window partition key, per-partition sort, "
        "bounded frame state; skewed keys pre-aggregate into salted "
        "time-buckets before the window (SCALE.md §5).",
    ),
    (
        "q_topk_",
        "Compiles to TakeOrderedAndProject / WindowGroupLimit rank "
        "pushdown: per-partition heaps of k, no global sort (SCALE.md §6).",
    ),
    (
        "q_sort_",
        "LIMIT-ed sort compiles to TakeOrderedAndProject (per-partition "
        "heaps + driver merge of parts x k rows) — never a full global "
        "sort (SCALE.md §6).",
    ),
    (
        "q_set_",
        "UNION ALL is shuffle-free concatenation; distinct/intersect/"
        "except add one hash shuffle on the row key (SCALE.md §6).",
    ),
    (
        "q_stream_",
        "Structured Streaming with watermark-bounded state; aggregation "
        "is incremental per micro-batch, verified in batch parity "
        "(SCALE.md §7).",
    ),
    (
        "st_",
        "Runtime streaming semantics: watermark/dedup state bounded by "
        "event-time expiry; foreachBatch reuses the idempotent keyed "
        "append so replays are no-ops (SCALE.md §7).",
    ),
    (
        "q_udf_",
        "Python reached only via Arrow-batched pandas_udf — vectorized "
        "transfer, no per-row pickling (SCALE.md §9).",
    ),
    (
        "q_udaf_",
        "Grouped-agg pandas UDF: groups stream through Arrow batches on "
        "executors, never the driver (SCALE.md §9).",
    ),
    (
        "udtf_",
        "mapInPandas batch-iterator: O(batch) memory per task, "
        "partition-parallel (SCALE.md §9).",
    ),
    (
        "q_llm_",
        "Built-in string fns + two-phase aggregation: shuffles carry "
        "(key, partial-aggregate) pairs, never full documents "
        "(SCALE.md §8).",
    ),
    (
        "llm_",
        "Blocked/banded candidate generation keeps compare cost "
        "sub-quadratic; see SCALE.md §8.",
    ),
    (
        "q_scan_",
        "Pushed filters + pruned ReadSchema verified in the plan; at "
        "100 TB becomes partition pruning + row-group skipping "
        "(SCALE.md §1).",
    ),
    (
        "snk_",
        "Partitioned/idempotent Parquet writes; anti-join prunes the "
        "sink side to the batch's key range (SCALE.md §1).",
    ),
]


def _default_scale_notes(name: str) -> str:
    for prefix, note in FAMILY_SCALE_NOTES:
        if name.startswith(prefix):
            return note
    return ""


def register(
    name: str, oracle: str | None = None, doc: str = "", scale_notes: str = ""
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a declared query (and its oracle) by name."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate declared query {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=oracle,
            doc=doc or (fn.__doc__ or "").strip(),
            scale_notes=scale_notes or _default_scale_notes(name),
        )
        return fn

    return deco


#: Repo root: where the external driver's CORRECTNESS_r{N}.json land.
ROOT = Path(__file__).resolve().parent.parent


def driver_lineage(root: Path = ROOT) -> dict[str, int]:
    """Latest round N whose CORRECTNESS_r{N}.json checked each query
    green: a hash match, or a rows-only run (``err == "no_oracle"``)
    that returned a row count.  Queries never checked green are absent."""
    latest: dict[str, int] = {}
    for p in root.glob("CORRECTNESS_r*.json"):
        rnd = int(p.stem.rsplit("_r", 1)[1])
        for name, row in json.loads(p.read_text()).items():
            if row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def driver_order(
    reg: dict[str, QuerySpec], latest: dict[str, int]
) -> dict[str, QuerySpec]:
    """Order the registry for the driver, which checks only the first 50
    entries of ``queries()`` per round: never-checked rows first, then
    stalest green round, oracled before rows-only within a round; the
    stable sort keeps registration order among ties."""
    ordered = sorted(
        reg, key=lambda n: (latest.get(n, 0), reg[n].oracle is None)
    )
    return {name: reg[name] for name in ordered}


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module so registration side effects run,
    then return the registry in driver order."""
    # Imports are inside the function to avoid import cycles
    # (operator modules import `register` from here).
    import weather_etl_spark.operators  # noqa: F401
    import weather_etl_spark.functions  # noqa: F401
    import weather_etl_spark.sources  # noqa: F401
    import weather_etl_spark.streaming  # noqa: F401

    return driver_order(REGISTRY, driver_lineage())


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in load_all().items()
        if spec.oracle is not None
    }
