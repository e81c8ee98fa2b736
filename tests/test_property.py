"""Property-based tests (hypothesis) for the engine's core invariants:
the reference's cursor-incremental idempotent pipeline (A6/A11/A14) and
the half-open time-axis semantics (A3/A5).

A pure-Python model simulates what the pipeline MUST do for any random
sequence of overlapping batches; the Spark implementation must agree on
sink keys, row count, and final cursor — and re-running any prefix must
insert zero rows (exactly-once effect from at-least-once delivery).
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from weather_etl_spark.incremental import filter_new_records, run_incremental

UTC = datetime.timezone.utc
T0 = datetime.datetime(2024, 1, 1, tzinfo=UTC)


def _ts(offset_min: int) -> datetime.datetime:
    return T0 + datetime.timedelta(minutes=offset_min)


# A batch maps key -> ts-offset-minutes (unique keys per batch, like the
# reference's per-run API response keyed by timestamp).
batch_strategy = st.dictionaries(
    keys=st.integers(0, 15), values=st.integers(0, 60), min_size=0, max_size=8
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=st.lists(batch_strategy, min_size=1, max_size=4))
# Regression pins (drawn unconditionally, not by luck): a re-sent key
# with a NEWER ts passes the cursor filter but is dropped by the keyed
# anti-join (ON CONFLICT DO NOTHING keeps the old row,
# reference lambda_function.py:176-182) — so the cursor must NOT
# advance to the dropped row's ts.
@example(batches=[{0: 0}, {0: 1}])
@example(batches=[{0: 0, 1: 5}, {0: 10, 2: 3}, {1: 60}])
@pytest.mark.full  # ~60 s hypothesis run (see pytest.ini)
def test_incremental_matches_model_and_is_idempotent(
    spark, tmp_path_factory, batches
):
    sink = str(tmp_path_factory.mktemp("prop_sink") / "sink")

    # Pure-Python model of cursor (>) + keyed dedup-on-write semantics.
    # The cursor is MAX(ts) over the SINK, so it advances only over rows
    # actually inserted — a row that survives the cursor filter but is
    # dropped by the keyed anti-join leaves the cursor untouched.
    model_keys: set[int] = set()
    model_cursor: datetime.datetime | None = None

    for batch in batches:
        rows = [(k, _ts(off), float(k)) for k, off in batch.items()]
        df = spark.createDataFrame(
            rows or [(None, None, None)],
            "event_id long, ts timestamp, value double",
        )
        if not rows:
            df = df.filter("event_id IS NOT NULL")
        result = run_incremental(
            spark, df, sink, key_cols=["event_id"], ts_col="ts"
        )
        assert result["statusCode"] == 200

        survivors = {
            k: t
            for k, (t) in ((k, _ts(off)) for k, off in batch.items())
            if (model_cursor is None or t > model_cursor)
        }
        inserted = {
            k: t for k, t in survivors.items() if k not in model_keys
        }
        assert result["records_inserted"] == len(inserted)
        model_keys |= set(inserted)
        if inserted:
            mx = max(inserted.values())
            model_cursor = mx if model_cursor is None or mx > model_cursor else model_cursor
        want_cursor = (
            None if model_cursor is None
            else model_cursor.replace(tzinfo=None).isoformat()
        )
        assert result["latest_cursor"] == want_cursor

        # Idempotence: replaying the SAME batch immediately is a no-op.
        replay = run_incremental(
            spark, df, sink, key_cols=["event_id"], ts_col="ts"
        )
        assert replay["statusCode"] == 200
        assert replay["records_inserted"] == 0
        assert replay["latest_cursor"] == want_cursor

    if model_keys:
        actual = spark.read.parquet(sink)
        assert actual.count() == len(model_keys)
        assert {
            r["event_id"] for r in actual.select("event_id").collect()
        } == model_keys
        actual_cursor = actual.agg({"ts": "max"}).first()[0]
        assert actual_cursor.replace(tzinfo=UTC) == model_cursor


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    offsets=st.lists(st.integers(-30, 30), min_size=1, max_size=10),
    cursor_off=st.one_of(st.none(), st.integers(-30, 30)),
    now_off=st.integers(-30, 30),
)
def test_filter_bounds_are_strict_and_inclusive(
    spark, offsets, cursor_off, now_off
):
    """A6 strict `>` on the cursor, A5 inclusive `<=` on now — for any
    row set and any bounds (the off-by-one surface of the reference)."""
    rows = [(i, _ts(off)) for i, off in enumerate(offsets)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    cursor = None if cursor_off is None else _ts(cursor_off)
    now = _ts(now_off)
    got = {
        r["event_id"]
        for r in filter_new_records(df, "ts", cursor, now=now).collect()
    }
    want = {
        i
        for i, off in enumerate(offsets)
        if _ts(off) <= now and (cursor is None or _ts(off) > cursor)
    }
    assert got == want
