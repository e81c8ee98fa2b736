"""Property tests for the reference's semantic invariants (SURVEY.md §5.2):
idempotent keyed append, strict-> cursor, <= now future-exclusion,
NaN->NULL only at the sink, fail-fast sink contract, retry envelope."""

from __future__ import annotations

import datetime
import math
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter
from pyspark.sql.types import StructField, TimestampType

from weather_etl_spark import incremental
from weather_etl_spark.checkpoints import _persistent_ids
from weather_etl_spark.incremental import (
    SinkMissingError,
    discover_cursor,
    filter_new_records,
    normalize_nans,
    run_incremental,
)
from weather_etl_spark.sinks import idempotent_append
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


def _part_files(sink: str) -> set[str]:
    return {p.name for p in Path(sink).glob("*.parquet")}


def test_small_append_writes_one_nonempty_file(spark, tmp_path):
    """One new row adds exactly one Parquet file, and no file in the
    sink holds 0 rows: the merge is materialized after AQE coalesces
    the dedup shuffle, so no empty partition-0 file rides along.  A
    full replay and an empty batch leave the file set unchanged (A12)."""
    sink = str(tmp_path / "sink")
    seed = _weather_batch(spark, "2024-01-01 00:00:00", "2024-01-01 02:00:00")
    seed.repartition(3).write.parquet(sink)
    seeded = _part_files(sink)
    assert len(seeded) == 3

    both = _weather_batch(spark, "2024-01-01 00:00:00", "2024-01-01 02:15:00")
    assert idempotent_append(spark, both, sink, ["date"]).rows == 1
    appended = _part_files(sink)
    assert len(appended - seeded) == 1 and seeded <= appended
    assert all(
        pq.read_metadata(f"{sink}/{name}").num_rows > 0 for name in appended
    )

    assert idempotent_append(spark, both, sink, ["date"]).rows == 0
    assert idempotent_append(spark, both.limit(0), sink, ["date"]).rows == 0
    assert _part_files(sink) == appended
    assert spark.read.parquet(sink).count() == 9


def test_append_releases_its_checkpoint(spark, tmp_path, monkeypatch):
    """The append pins no block-manager RDD past its return: not on
    success, not when materializing the merge fails, not when the
    write fails."""
    sink = str(tmp_path / "sink")
    batch = _weather_batch(spark, "2024-01-01 00:00:00", "2024-01-01 01:00:00")
    before = _persistent_ids(spark)
    assert idempotent_append(spark, batch, sink, ["date"]).rows == 4
    assert _persistent_ids(spark) == before

    bad = spark.range(3).select(
        F.expr("assert_true(id < 0)").alias("chk"), F.col("id").alias("date")
    )
    with pytest.raises(Exception, match="is not true"):
        idempotent_append(spark, bad, str(tmp_path / "bad"), ["date"])
    assert _persistent_ids(spark) == before

    def failing_write(self, path, *args, **kwargs):
        raise OSError(f"injected write failure at {path}")

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_write)
    later = _weather_batch(spark, "2024-01-01 01:00:00", "2024-01-01 02:00:00")
    with pytest.raises(OSError, match="injected"):
        idempotent_append(spark, later, sink, ["date"])
    assert _persistent_ids(spark) == before


def _count_discover_calls(monkeypatch) -> list:
    calls = []
    discover = incremental.discover_cursor

    def counting_discover(*args, **kwargs):
        calls.append(args)
        return discover(*args, **kwargs)

    monkeypatch.setattr(incremental, "discover_cursor", counting_discover)
    return calls


def test_no_insert_run_reuses_the_cursor(spark, tmp_path, monkeypatch):
    """A run that inserts nothing reports the sink's MAX(date) as its
    latest cursor without re-reading the sink: discover_cursor runs
    once (pre-run)."""
    sink = str(tmp_path / "sink")
    batch = _weather_batch(spark, "2024-01-01 00:00:00", "2024-01-01 02:00:00")
    assert run_incremental(spark, batch, sink, ["date"])["records_inserted"] == 8

    calls = _count_discover_calls(monkeypatch)
    replay = run_incremental(spark, batch, sink, ["date"])
    assert (replay["statusCode"], replay["records_inserted"]) == (200, 0)
    sink_max = spark.read.parquet(sink).agg(F.max("date")).first()[0]
    assert replay["latest_cursor"] == sink_max.isoformat()
    assert replay["pre_run_cursor"] == replay["latest_cursor"]
    assert len(calls) == 1


def test_inserting_run_reads_the_cursor_once(spark, tmp_path, monkeypatch):
    """A run that inserts rows takes its new cursor from the max the
    append observed over them, so it scans the sink for MAX(date) once,
    before the append, like a run that inserts nothing."""
    sink = str(tmp_path / "sink")
    batch = _weather_batch(spark, "2024-01-01 00:00:00", "2024-01-01 02:00:00")
    assert run_incremental(spark, batch, sink, ["date"])["records_inserted"] == 8

    calls = _count_discover_calls(monkeypatch)
    later = _weather_batch(spark, "2024-01-01 01:00:00", "2024-01-01 03:00:00")
    grown = run_incremental(spark, later, sink, ["date"])
    assert (grown["statusCode"], grown["records_inserted"]) == (200, 4)
    sink_max = spark.read.parquet(sink).agg(F.max("date")).first()[0]
    assert grown["latest_cursor"] == sink_max.isoformat()
    assert len(calls) == 1


def test_replay_with_now_at_the_cursor(spark, tmp_path):
    """``now`` equal to the sink's cursor leaves no row that passes both
    bounds (A5/A6); Catalyst folds that filtered local relation to an
    empty one, so the append's checkpoint reads no source at all.  The
    run still reports every fetched row, inserts 0 and adds no file."""
    sink = str(tmp_path / "sink")
    rows = [
        (datetime.datetime(2024, 1, 1, 0, 15 * i), float(i)) for i in range(4)
    ]
    batch = spark.createDataFrame(rows, "date timestamp, rain double")
    assert run_incremental(spark, batch, sink, ["date"])["records_inserted"] == 4
    files = _part_files(sink)

    cursor = rows[-1][0]
    replay = run_incremental(spark, batch, sink, ["date"], now=cursor)
    assert replay == {
        "statusCode": 200,
        "records_fetched": 4,
        "records_inserted": 0,
        "pre_run_cursor": cursor.isoformat(),
        "latest_cursor": cursor.isoformat(),
    }
    assert _part_files(sink) == files


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
