"""Table IO over the driver testdata layout (TESTDATA.md / FIXTURES.md).

The reference is fail-fast / DDL-first about schemas (it aborts when the
target table is missing — /root/reference/lambda_function.py:55-72,
207-214, invariant A9).  The engine mirrors that: readers validate the
path exists before handing Catalyst the scan, and the events reader
applies the verified ns-timestamp recipe instead of letting a read blow
up downstream.

Scale note (100 TB): these readers return plain lazy DataFrames over
Parquet — predicate pushdown, column pruning and partition pruning all
happen in Catalyst.  Nothing here collects, counts, or caches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_etl_spark.session import ensure_engine_confs

#: Every table the driver generates (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: (path, stat signature) -> inferred StructType.  Schema inference is
#: the expensive half of ``spark.read.parquet`` on the driver (~95 ms
#: vs ~23 ms with an explicit schema, measured warm at sf0.1 — r12
#: optimization round, guide §1.2 per-task/driver work): a query that
#: reads 6 tables paid ~0.5 s of pure footer re-reads PER RUN.  The
#: cache holds only the python-side StructType (no JVM handles, so it
#: is valid across sessions) and is keyed by a stat signature of the
#: path, so any rewrite of the file/directory (fixtures regenerated
#: between battery checks, scratch overwrites) invalidates the entry.
#: Never caches data or file listings — the scan's file index is still
#: built fresh per query, so this cannot stale row results.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _path_sig(path: str) -> tuple | None:
    """Bounded stat signature for the schema cache, or ``None`` when the
    path is unsuitable for caching — callers then skip the cache and
    infer fresh every time.  r13 hardening (guide §6 + r12 ADVICE):

    - **O(1)-bounded**: at most 64 direct children are stat'ed.  A
      production table with 10^5-10^6 part files must never pay a
      per-file stat loop on every ``read_table`` just to validate a
      schema cache that saves one footer read — past the bound the
      cache is skipped outright.
    - **Nested layouts are never cached**: a partitioned dataset
      (``table/part=X/file``) can be rewritten one level down without
      bumping the parent OR child-dir mtime that a one-level signature
      sees, so any directory child disqualifies the path.
    - **Race-safe**: a child deleted between listing and stat raises
      OSError; that bypasses the cache instead of crashing the read.
    - Child sizes are included so an equal-mtime in-place rewrite
      (clock-granularity collisions) still invalidates.
    """
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_mtime_ns, st.st_size)
        with os.scandir(path) as it:
            entries = sorted(it, key=lambda e: e.name)
        if len(entries) > 64:
            return None
        sig = []
        for e in entries:
            if e.is_dir():
                return None
            est = e.stat()
            sig.append((e.name, est.st_mtime_ns, est.st_size))
        return (st.st_mtime_ns, tuple(sig))
    except OSError:
        return None

_SCRATCH_ROOT: str | None = None


def scratch_dir(name: str) -> str:
    """Deterministic per-process scratch directory for queries that
    stage data on disk (bucketed/partitioned writes, format
    round-trips).

    Staged data must OUTLIVE the registered function — callers execute
    the returned lazy DataFrame later — so per-call mkdtemp cannot be
    rmtree'd in a finally and leaks a fresh dir per registry sweep.
    Deterministic names + mode("overwrite") make repeat sweeps reuse
    the same path; one atexit hook removes everything at process exit.
    """
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="wes_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    path = os.path.join(_SCRATCH_ROOT, name)
    os.makedirs(path, exist_ok=True)
    return path


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def table_exists(spark: SparkSession, sf_dir: str, name: str) -> bool:
    """Catalog/path existence gate (reference A9: information_schema probe,
    lambda_function.py:58-64).  For catalog tables use
    ``spark.catalog.tableExists``; testdata lives on the filesystem."""
    return os.path.exists(table_path(sf_dir, name))


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize a batch or streaming read of the events table's ``ts``.

    events.ts is Parquet TIMESTAMP(NANOS).  Depending on the PySpark
    build it surfaces in one of three shapes, and the engine normalizes
    all of them to tz-aware ``timestamp`` (µs, session tz UTC — the
    reference's invariant A7: all times tz-aware UTC,
    lambda_function.py:107-108):

    - ``bigint`` nanoseconds (``spark.sql.legacy.parquet.nanosAsLong``
      honored): convert via integer division (``ts div 1000`` stays in
      exact int64 — a double division would lose precision above 2^53).
    - ``timestamp_ntz`` (builds where that conf is a no-op and NANOS
      maps to TIMESTAMP_NTZ): cast to ``timestamp`` — with the session
      tz pinned to UTC the wall-clock reinterpretation preserves the
      instant exactly.
    - ``timestamp`` already: nothing to do.

    All three agree with DuckDB's read of the same column as microsecond
    TIMESTAMP (truncation verified identical, FIXTURES.md).
    tests/test_env_probe.py pins the post-read dtype so the next runtime
    swap fails one loud test instead of ten driver rows.
    """
    ts_dtype = dict(df.dtypes).get("ts")
    if ts_dtype == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table with the engine's session contract
    (events.ts normalized by ``normalize_events_ts``)."""
    ensure_engine_confs(spark)
    path = table_path(sf_dir, name)
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"table {name!r} not found at {path} (fail-fast schema contract, "
            "reference invariant A9)"
        )
    sig = _path_sig(path)
    if sig is None:  # uncacheable path shape (see _path_sig) — infer fresh
        schema = spark.read.parquet(path).schema
    else:
        key = (path, sig)
        schema = _SCHEMA_CACHE.get(key)
        if schema is None:
            schema = spark.read.parquet(path).schema
            if len(_SCHEMA_CACHE) > 256:  # bounded: paths are few in practice
                _SCHEMA_CACHE.clear()
            _SCHEMA_CACHE[key] = schema
    df = spark.read.schema(schema).parquet(path)
    return normalize_events_ts(df) if name == "events" else df
