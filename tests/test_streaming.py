"""Streaming semantics: batch<->stream parity (SURVEY.md §5.2.5) and the
rows-only runtime operators' deterministic summaries."""

from __future__ import annotations

import pytest

from weather_etl_spark.registry import load_all

pytestmark = pytest.mark.full  # micro-batch runtime latency (see pytest.ini)

SPECS = load_all()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_availnow_parity_with_batch(spark, sf_dir):
    """The tumbling aggregate computed by a real Trigger.AvailableNow
    stream equals the batch result (modulo the value column the stream
    variant omits)."""
    stream_out = SPECS["st_trigger_availnow"].fn(spark, sf_dir)
    batch_out = (
        SPECS["q_stream_tumbling"].fn(spark, sf_dir)
        .select("ws_us", "event_type", "n")
    )
    assert _rows(stream_out) == _rows(batch_out)


def test_watermark_drops_late_rows(spark, sf_dir):
    """Late row beyond the watermark is dropped: its window keeps the
    batch-1 count; the fresh batch-2 row's window appears."""
    out = {r["ws_us"]: r["n_final"] for r in SPECS["st_watermark"].fn(spark, sf_dir).collect()}
    t0 = 1704103200_000_000
    five_min = 300_000_000
    # 10:05 window stayed at its batch-1 count (late duplicate dropped).
    assert out[t0 + five_min] == 5
    # 10:50 window holds only the fresh 10:52 row.
    assert out[t0 + 10 * five_min] == 1


def test_stream_dedup_within_watermark(spark, sf_dir):
    row = SPECS["st_dedup_wm"].fn(spark, sf_dir).collect()[0]
    assert (row["n_rows"], row["n_distinct"]) == (5, 5)


def test_foreachbatch_incremental_idempotent(spark, sf_dir):
    row = SPECS["st_foreachbatch"].fn(spark, sf_dir).collect()[0]
    # 12 distinct keys across overlapping batches; no key stored twice.
    assert (row["total_rows"], row["distinct_keys"], row["inserted_sum"]) == (
        12,
        12,
        12,
    )


def test_stateful_sessionizer_state_survives_batches(spark, sf_dir):
    """applyInPandasWithState: the session split across micro-batches
    (11:00 in batch 1, 11:05 in batch 2) must close as ONE 2-event
    session — state carried through the store; open tails unemitted."""
    rows = sorted(
        map(tuple, SPECS["st_stateful_sessionizer"].fn(spark, sf_dir).collect())
    )
    t0 = 1704103200_000_000
    m = 60_000_000
    assert rows == [
        (1, t0, 2),            # user 1: [10:00, 10:10]
        (1, t0 + 60 * m, 2),   # user 1: [11:00, 11:05] across batches
        (2, t0, 1),            # user 2: [10:00]
    ]


def test_stream_stream_join_interval_bounds(spark, sf_dir):
    """Stream-stream join keeps only purchases within [view, view+1h)."""
    rows = sorted(
        map(tuple, SPECS["st_stream_stream_join"].fn(spark, sf_dir).collect())
    )
    t0 = 1704103200_000_000
    m = 60_000_000
    assert rows == [
        (1, t0, t0 + 20 * m, 5.0),           # in window
        (2, t0 + 30 * m, t0 + 45 * m, 9.0),  # in window
    ]                                         # u1 buy @+150min excluded


def test_transform_with_state_running_totals(spark, sf_dir):
    """Per-user running (n, max_ts) state survives micro-batch
    boundaries, and each batch emits the running total at that point
    (user 1 spans both batches: n=2 then n=3 with an advanced max)."""
    rows = sorted(
        map(tuple, SPECS["st_transform_with_state"].fn(spark, sf_dir).collect())
    )
    t0 = 1704103200_000_000
    m = 60_000_000
    assert rows == [
        (1, 2, t0 + 10 * m),  # batch 1 running total
        (1, 3, t0 + 20 * m),  # batch 2: state carried, max advanced
        (2, 1, t0 + 5 * m),   # batch 1 only
    ]


def test_streaming_sessionizer_agrees_with_batch_sessionize(spark, tmp_path):
    """Cross-paradigm coherence: st_stateful_sessionizer's 30-min-gap
    sessionizer, run as a real stream over the actual events table,
    must emit exactly the batch q_win_sessionize sessions MINUS each
    user's final (still-open, deliberately unemitted) session."""
    import shutil

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from weather_etl_spark.streaming.runtime import (
        _drain,
        _stream_events,
        sessionize,
    )
    from tests.conftest import SMOKE_SF_DIR

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    shutil.copy(f"{SMOKE_SF_DIR}/events.parquet", in_dir / "events.parquet")
    stream = _stream_events(spark, str(in_dir)).select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    got = _rows(_drain(sessionize(stream), "append", str(tmp_path)))

    batch = SPECS["q_win_sessionize"].fn(spark, SMOKE_SF_DIR).select(
        "user_id", F.col("sess_start_us").alias("session_start_us"), "n_events"
    )
    w = Window.partitionBy("user_id").orderBy(F.col("session_start_us").desc())
    want = _rows(
        batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)  # drop each user's open tail session
        .drop("rn")
    )
    assert got == want


def test_stream_defines_on_empty_input_dir(spark, tmp_path):
    """An empty input directory is a legitimate state for a stream
    awaiting its first files (ADVICE r5): the dtype probe must fall
    back to the documented default instead of raising at definition
    time, and the stream must start and drain zero rows."""
    import os

    from weather_etl_spark.streaming.runtime import _drain, _stream_events

    in_dir = str(tmp_path / "empty_in")
    os.makedirs(in_dir, exist_ok=True)
    stream = _stream_events(spark, in_dir)  # must not raise
    assert stream.isStreaming
    out = _drain(stream.groupBy("user_id").count(), "complete", str(tmp_path))
    assert out.count() == 0


@pytest.mark.parametrize("name", sorted(n for n in SPECS if n.startswith("st_")))
def test_runtime_row_leaves_no_temp_view(spark, sf_dir, name):
    """A memory sink registers its query name as a temp view holding the
    sink's rows in the driver; every row drops it once its result is
    materialized, so repeated runs do not pile up rows in the session."""
    before = {t.name for t in spark.catalog.listTables()}
    SPECS[name].fn(spark, sf_dir).collect()
    assert {t.name for t in spark.catalog.listTables()} == before
