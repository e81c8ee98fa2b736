"""Smoke: the driver contract module itself."""

from __future__ import annotations

import importlib
import subprocess
import sys
from pathlib import Path


def test_entry_smoke(spark):
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    assert df.count() > 0


def test_every_query_has_callable(spark):
    mod = importlib.import_module("__spark_entry__")
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert qs, "no declared queries"
    assert set(oracles) <= set(qs)


def test_registry_load_raises_no_user_warning():
    """Loading the registry builds every module-level UDF; none may warn
    (a Python UDF with type hints but no declared eval type does). A
    fresh interpreter, since this session has the registry imported."""
    subprocess.run(
        [sys.executable, "-W", "error::UserWarning", "-c",
         "from weather_etl_spark.registry import load_all; load_all()"],
        cwd=Path(__file__).resolve().parent.parent,
        check=True,
    )


def test_datasource_matches_driver_fetch(spark, sf_dir):
    """The Python DataSource path and the driver-side Arrow fetch path
    must produce bit-identical frames (NaN == NaN) — ingestion surface
    choice never changes data."""
    from weather_etl_spark.registry import load_all

    specs = load_all()
    a = sorted(map(tuple, specs["src_pyds"].fn(spark, sf_dir).collect()))
    b = sorted(map(tuple, specs["src_fetch"].fn(spark, sf_dir).collect()))
    assert len(a) == len(b) == 192
    for x, y in zip(a, b):
        assert x[0] == y[0]
        for p, q in zip(x[1:], y[1:]):
            assert p == q or (p != p and q != q)  # NaN-aware equality
