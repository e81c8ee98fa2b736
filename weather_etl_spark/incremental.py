"""The incremental runner: the reference pipeline re-expressed on Spark.

Mirrors ``lambda_handler`` (/root/reference/lambda_function.py:193-252,
operator A13) stage for stage:

    connect -> validate sink -> discover cursor -> fetch -> filter
    (future-exclude + strict-> cursor) -> NaN->NULL normalize ->
    idempotent keyed append -> metrics envelope

Semantic invariants preserved (SURVEY.md §2 Part A):
  1. at-least-once fetch + exactly-once effect (overlap re-fetch is
     harmless because the append is keyed — A11/A14);
  2. half-open time semantics: cursor filter strict ``>``, future
     filter ``<= now`` (A5/A6);
  3. NaN stays NaN upstream, becomes NULL only at the sink (A10);
  4. fail-fast on a missing/invalid sink when ``require_sink`` (A9).
"""

from __future__ import annotations

import datetime
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from weather_etl_spark.session import ensure_engine_confs
from weather_etl_spark.sinks import idempotent_append


class SinkMissingError(RuntimeError):
    """The reference aborts when the target table is missing (A9,
    lambda_function.py:207-214) — never auto-create in strict mode."""


def discover_cursor(spark: SparkSession, sink_path: str, ts_field: StructField):
    """MAX(ts) from the sink (A8), or None when it holds no rows.

    The sink is read with the batch's own ``ts_field`` type, never an
    inferred schema: a sink directory without data files (a first
    append that died before its commit, leaving at most
    ``_temporary/``) reads as empty, like the reference's MAX(date)
    over an empty table (lambda_function.py:134-145).  This scans the
    ts column: Parquet footer stats cannot answer it, since aggregate
    pushdown skips timestamp columns (session.py)."""
    if not os.path.exists(sink_path):
        return None
    row = (
        spark.read.schema(StructType([ts_field]))
        .parquet(sink_path)
        .agg(F.max(ts_field.name).alias("c"))
        .first()
    )
    return row["c"]


def filter_new_records(
    df: DataFrame,
    ts_col: str,
    cursor,
    now: datetime.datetime | None = None,
) -> DataFrame:
    """Future-exclude (<= now, A5) then strict-> cursor filter (A6).
    cursor=None keeps all rows (first run), matching
    lambda_function.py:134-145."""
    if now is not None:
        df = df.filter(F.col(ts_col) <= F.lit(now))
    if cursor is not None:
        df = df.filter(F.col(ts_col) > F.lit(cursor))
    return df


def normalize_nans(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """NaN -> NULL at the sink boundary only (A10,
    lambda_function.py:168-173).  One projection: a ``withColumn``
    per column would re-analyze the plan once per column."""
    null = F.lit(None).cast("double")
    return df.withColumns({c: F.nanvl(F.col(c), null) for c in cols})


def run_incremental(
    spark: SparkSession,
    source_df: DataFrame,
    sink_path: str,
    key_cols: Sequence[str],
    ts_col: str | None = None,
    now: datetime.datetime | None = None,
    float_cols: Sequence[str] | None = None,
    require_sink: bool = False,
) -> dict:
    """One scheduled run (A14). Returns the reference's result envelope
    (records_fetched / records_inserted / latest_cursor — A13,
    lambda_function.py:228-236).

    Documented deviations from the reference envelope:

    * ``now`` — the reference excludes future rows unconditionally
      against its own wall clock (A5, lambda_function.py:130-131); this
      runner takes ``now`` as an *injected clock* so runs are
      deterministic and testable.  ``now=None`` (default) skips the
      future-exclude stage — production callers schedule with
      ``now=datetime.now(UTC)``.
    * ``latest_cursor`` here is the POST-insert sink cursor (what the
      next run will resume from); the reference reports the PRE-run
      cursor.  Both are returned: ``pre_run_cursor`` carries the
      reference's value.  The sink is not re-read for it: the append
      reports the max ts of the rows it inserted.  ``records_fetched``
      stays its own ``count()``: when ``now`` equals the cursor the
      filtered source folds to an empty relation that no job reads.
    """
    ensure_engine_confs(spark)
    ts_col = ts_col or key_cols[0]
    if require_sink and not os.path.exists(sink_path):
        raise SinkMissingError(
            f"sink {sink_path} does not exist (fail-fast, reference A9)"
        )
    try:
        ts_field = source_df.schema[ts_col]
        cursor = discover_cursor(spark, sink_path, ts_field)
        fetched = source_df.count()
        fresh = filter_new_records(source_df, ts_col, cursor, now=now)
        if float_cols:
            fresh = normalize_nans(fresh, float_cols)
        appended = idempotent_append(spark, fresh, sink_path, key_cols)
        # The sink's new MAX(ts): the pre-run cursor or the inserted max.
        latest = max(
            (c for c in (cursor, appended.upper[ts_col]) if c is not None),
            default=None,
        )
        return {
            "statusCode": 200,
            "records_fetched": fetched,
            "records_inserted": appended.rows,
            "pre_run_cursor": None if cursor is None else cursor.isoformat(),
            "latest_cursor": None if latest is None else latest.isoformat(),
        }
    except SinkMissingError:
        raise
    except Exception as err:  # structured 500 envelope (A13, :240-248)
        return {"statusCode": 500, "error": f"{type(err).__name__}: {err}"}
