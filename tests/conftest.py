"""Shared fixtures: one SparkSession per test session, DuckDB per sf_dir."""

from __future__ import annotations

import os

import pytest

from weather_etl_spark import get_spark

#: The driver's correctness gate runs at sf0.01 — test at the same SF.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def battery_seed(default: int) -> int:
    """Seed for an adversarial-battery stream generator.

    Committed runs are deterministic (offset 0 -> the documented
    seeds, so a battery failure always reproduces).  Setting
    ``SPARK_GRAFT_BATTERY_SEED_OFFSET=<int>`` re-draws every fixed-seed
    stream under a fresh seed while keeping each stream's documented
    construction (tie density, skew profile, domain bounds) — the
    fresh-seed sweep each round hunts divergences the committed seeds
    happen to miss, without making the default suite nondeterministic.
    """
    return default + int(os.environ.get("SPARK_GRAFT_BATTERY_SEED_OFFSET", "0"))


def pytest_collection_modifyitems(config, items):
    """Lane contract (see pytest.ini): modules mark themselves `full`
    (plan audits, adversarial batteries); everything else is
    auto-tagged `fast` so `pytest -m fast` needs no per-test
    bookkeeping.

    A bare ``pytest tests/`` deselects the `full` lane; it still runs
    the 2-SF oracle-parity sweep, which is not marked `full`.  Any
    non-empty ``-m`` expression, or ``SPARK_GRAFT_TEST_FULL=1``, turns
    the deselection off and lets the expression alone pick the tests
    (``-m ""`` reads as no ``-m`` at all, so it keeps the default lane).
    Deselection (not skip) keeps the default run's report clean."""
    import pytest as _pytest

    for item in items:
        if "full" not in item.keywords:
            item.add_marker(_pytest.mark.fast)
    if os.environ.get("SPARK_GRAFT_TEST_FULL") or config.getoption("-m"):
        return
    heavy = [i for i in items if "full" in i.keywords]
    if heavy:
        config.hook.pytest_deselected(items=heavy)
        items[:] = [i for i in items if "full" not in i.keywords]


@pytest.fixture(scope="session")
def spark():
    session = get_spark(
        app_name="weather-etl-spark-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_TEST_CPUS', '8')}]",
        shuffle_partitions=8,
    )
    yield session


@pytest.fixture(autouse=True)
def _release_checkpoints(request):
    """Query-boundary block-manager hygiene: drop localCheckpoint blocks
    and caches after every test so the 142-query parity sweep's memory
    footprint (and timing) is order-independent."""
    yield
    if "spark" in request.fixturenames:
        from weather_etl_spark.checkpoints import release_session_checkpoints

        release_session_checkpoints(request.getfixturevalue("spark"))


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
