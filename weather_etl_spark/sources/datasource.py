"""PySpark 4 Python DataSource for the reference's columnar source
(SURVEY.md §2 B.1; A1 — /root/reference/lambda_function.py:89-124).

Where ``sources.fetch`` lands the columnar payload driver-side
(`createDataFrame` over Arrow), this module exposes the SAME
deterministic source through Spark's data source API:
``spark.read.format("weather_sim")`` with one input partition per UTC
day, each partition yielding Arrow RecordBatches directly on the
executors — the shape a real scaled-out HTTP/object-store reader would
take (partition = fetch shard; no driver bottleneck).

The two paths are asserted identical in tests/test_entry.py — the
engine's contract is that ingestion surface choice never changes data.

Classes are created inside the factory so cloudpickle ships them by
value to Python workers (no PYTHONPATH assumption on executors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from weather_etl_spark.registry import register
from weather_etl_spark.session import ensure_engine_confs

DEFAULT_START_S = 1704067200  # 2024-01-01 00:00:00 UTC
DEFAULT_END_S = 1704240000  # 2024-01-03 00:00:00 UTC (half-open, 2 days)
DAY_S = 86400


def make_weather_sim_datasource():
    """Build the DataSource class (locally defined => pickled by value)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class DayPartition(InputPartition):
        def __init__(self, start_s: int, end_s: int):
            self.start_s = start_s
            self.end_s = end_s

    class WeatherSimReader(DataSourceReader):
        def __init__(self, options):
            self.start_s = int(options.get("start_s", DEFAULT_START_S))
            self.end_s = int(options.get("end_s", DEFAULT_END_S))
            self.interval_s = int(options.get("interval_s", 900))

        def partitions(self):
            # One fetch shard per UTC day — the scaled-out analogue of
            # the reference's single bounded request (past_days window,
            # lambda_function.py:38-39).
            days = []
            day = self.start_s
            while day < self.end_s:
                days.append(DayPartition(day, min(day + DAY_S, self.end_s)))
                day += DAY_S
            return days

        def read(self, partition):
            # Executor-side: generate the full deterministic series and
            # slice this shard, guaranteeing bit-identity with the
            # driver-side fetch path regardless of sharding.
            import numpy as np

            from weather_etl_spark.sources.fetch import (
                fake_columnar_transport,
                weather_arrow,
            )

            cols = fake_columnar_transport(
                self.start_s, self.end_s, self.interval_s
            )()
            time_s = cols["time_s"]
            lo = np.searchsorted(time_s, partition.start_s, "left")
            hi = np.searchsorted(time_s, partition.end_s, "left")
            yield from weather_arrow(
                {k: v[lo:hi] for k, v in cols.items()}
            ).to_batches()

    class WeatherSimDataSource(DataSource):
        @classmethod
        def name(cls):
            return "weather_sim"

        def schema(self):
            from weather_etl_spark.sources.fetch import WEATHER_SCHEMA

            return WEATHER_SCHEMA

        def reader(self, schema):
            return WeatherSimReader(self.options)

    return WeatherSimDataSource


@register(
    "src_pyds",
    oracle=None,  # source surface; identity with src_fetch asserted in tests
    doc="Python DataSource ingestion (spark.read.format('weather_sim')): "
    "the reference's columnar source served through the PySpark 4 data "
    "source API with one Arrow-batch partition per UTC day — the "
    "distributed-fetch shape of A1 (cf. SURVEY.md §2 A1 'custom "
    "DataSource' mapping). Returns the 2-day 15-min series; NaNs "
    "preserved.",
    scale_notes="Partition-per-shard fetch runs on executors, so "
    "ingestion parallelism scales with the cluster, not the driver. "
    "Arrow RecordBatches avoid row-wise Python<->JVM transfer. A real "
    "deployment implements read() with the retrying HTTP transport per "
    "shard (RetryConfig) — same class, different transport.",
)
def src_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_engine_confs(spark)
    spark.dataSource.register(make_weather_sim_datasource())
    return spark.read.format("weather_sim").load()
