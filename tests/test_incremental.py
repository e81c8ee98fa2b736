"""Property tests for the reference's semantic invariants (SURVEY.md §5.2):
idempotent keyed append, strict-> cursor, <= now future-exclusion,
NaN->NULL only at the sink, fail-fast sink contract, retry envelope."""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, TimestampType

from weather_etl_spark.incremental import (
    SinkMissingError,
    discover_cursor,
    filter_new_records,
    normalize_nans,
    run_incremental,
)
from weather_etl_spark.sources.fetch import (
    MEASURES,
    RetryConfig,
    TransientSourceError,
    fake_columnar_transport,
    fetch_timeseries,
)


def _weather_batch(spark, start: str, end: str):
    """Reference-shaped fixture (FIXTURES.md §2): 15-min grid [start, end),
    deterministic values, a few NaN cells."""
    df = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit(start).cast("timestamp"),
                    F.lit(end).cast("timestamp"),
                    F.expr("INTERVAL 15 MINUTES"),
                )
            ).alias("date")
        )
        .filter(F.col("date") < F.lit(end).cast("timestamp"))
    )
    slot = F.unix_timestamp("date") / 900
    df = df.withColumn(
        "temperature_2m",
        F.when(slot % 5 == 0, F.lit(float("nan"))).otherwise(slot % 30),
    )
    return df.withColumn("rain", (slot % 7).cast("double"))


def test_idempotent_append_overlap(spark, tmp_path):
    """Two overlapping batches: re-run of the overlap inserts 0 (the
    ON CONFLICT property, A11/A14)."""
    sink = str(tmp_path / "sink")
    b1 = _weather_batch(spark, "2024-01-01 00:00:00", "2024-01-01 02:00:00")
    b2 = _weather_batch(spark, "2024-01-01 01:00:00", "2024-01-01 03:00:00")

    r1 = run_incremental(spark, b1, sink, ["date"], float_cols=["temperature_2m"])
    assert (r1["statusCode"], r1["records_fetched"], r1["records_inserted"]) == (200, 8, 8)

    r2 = run_incremental(spark, b2, sink, ["date"], float_cols=["temperature_2m"])
    assert (r2["statusCode"], r2["records_inserted"]) == (200, 4)  # only the new hour

    # Full replay of everything: byte-identical state, 0 inserted.
    replay = b1.unionAll(b2)
    before = sorted(map(tuple, spark.read.parquet(sink).collect()))
    r3 = run_incremental(spark, replay, sink, ["date"], float_cols=["temperature_2m"])
    assert r3["records_inserted"] == 0
    after = sorted(map(tuple, spark.read.parquet(sink).collect()))
    assert before == after


def test_cursor_strict_and_future_bound(spark):
    """Half-open semantics: the cursor row itself is excluded (strict >),
    ts == now is included (<=) — A5/A6 boundaries."""
    df = _weather_batch(spark, "2024-01-01 00:00:00", "2024-01-01 01:00:00")
    cursor = datetime.datetime(2024, 1, 1, 0, 15)
    now = datetime.datetime(2024, 1, 1, 0, 30)
    out = filter_new_records(df, "date", cursor, now=now)
    got = sorted(r["date"] for r in out.collect())
    assert got == [datetime.datetime(2024, 1, 1, 0, 30)]  # (0:15, 0:30]


def test_cursor_none_keeps_all(spark):
    df = _weather_batch(spark, "2024-01-01 00:00:00", "2024-01-01 01:00:00")
    assert filter_new_records(df, "date", None).count() == 4


def test_nan_normalized_only_at_sink(spark, tmp_path):
    """NaN upstream stays NaN; the sink stores NULL (A10)."""
    df = _weather_batch(spark, "2024-01-01 00:00:00", "2024-01-01 02:00:00")
    upstream = df.filter(F.isnan("temperature_2m")).count()
    assert upstream > 0  # NaN present before the sink
    sink = str(tmp_path / "sink")
    run_incremental(spark, df, sink, ["date"], float_cols=["temperature_2m"])
    stored = spark.read.parquet(sink)
    assert stored.filter(F.isnan("temperature_2m")).count() == 0
    assert stored.filter(F.col("temperature_2m").isNull()).count() == upstream


def test_fail_fast_missing_sink(spark, tmp_path):
    df = _weather_batch(spark, "2024-01-01 00:00:00", "2024-01-01 01:00:00")
    with pytest.raises(SinkMissingError):
        run_incremental(
            spark, df, str(tmp_path / "absent"), ["date"], require_sink=True
        )


def test_error_envelope(spark, tmp_path):
    """Runtime failures return the structured 500 envelope (A13)."""
    bad = spark.range(3).select(
        F.expr("assert_true(id < 0)").alias("chk"), F.col("id").alias("date")
    )
    result = run_incremental(spark, bad, str(tmp_path / "sink"), ["date"])
    assert result["statusCode"] == 500
    assert "error" in result


def test_discover_cursor_empty(spark, tmp_path):
    field = StructField("date", TimestampType())
    assert discover_cursor(spark, str(tmp_path / "absent"), field) is None


def test_sink_dir_without_data_files_is_empty(spark, tmp_path):
    """A sink directory with no data files — bare, or holding only the
    ``_temporary/`` of an append that died before its commit — reads as
    an empty table: the first run inserts the whole batch (the
    reference's NULL MAX(date), lambda_function.py:134-145) and a
    replay inserts 0."""
    batch = _weather_batch(spark, "2024-01-01 00:00:00", "2024-01-01 02:00:00")
    for leftover in ("", "_temporary/0"):
        sink = tmp_path / f"sink{len(leftover)}"
        (sink / leftover).mkdir(parents=True)
        first = run_incremental(spark, batch, str(sink), ["date"])
        assert first["statusCode"] == 200, first
        assert first["records_inserted"] == 8
        assert first["pre_run_cursor"] is None
        replay = run_incremental(spark, batch, str(sink), ["date"])
        assert (replay["statusCode"], replay["records_inserted"]) == (200, 0)


def test_retry_envelope(spark):
    """Transport failing twice with a retryable status succeeds; a
    non-retryable status raises immediately (A2)."""
    sleeps: list[float] = []
    df = fetch_timeseries(
        spark,
        transport=fake_columnar_transport(fail_times=2),
        sleep=sleeps.append,
    )
    assert df.count() == 192  # 2 days x 96 slots, [start, end)
    assert sleeps == [0.2, 0.4]  # backoff_factor * 2^attempt

    with pytest.raises(TransientSourceError):
        fetch_timeseries(
            spark,
            transport=fake_columnar_transport(fail_times=10),
            retry=RetryConfig(retries=3),
            sleep=lambda _s: None,
        )


def test_fetch_preserves_nan(spark):
    """The source keeps NaN (normalization is the sink's job, A10)."""
    df = fetch_timeseries(
        spark, transport=fake_columnar_transport(), sleep=lambda _s: None
    )
    nan_rows = df.filter(F.isnan(MEASURES[0])).count()
    assert nan_rows > 0
    assert not any(
        math.isnan(x["temperature_2m"])
        for x in df.filter(~F.isnan("temperature_2m")).collect()
    )
