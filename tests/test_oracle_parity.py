"""Differential test: every declared query with an oracle must hash-match
DuckDB at the driver's correctness SF (sf0.01). Rows-only entries must at
least run and return a stable schema."""

from __future__ import annotations

import pytest

from weather_etl_spark.registry import load_all
from tests.oracle_utils import compare_to_oracle

SPECS = load_all()
ORACLE_NAMES = sorted(n for n, s in SPECS.items() if s.oracle)
ROWS_ONLY_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is None)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, sf_dir, name):
    compare_to_oracle(spark, SPECS[name], sf_dir)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_runs(spark, sf_dir, name):
    df = SPECS[name].fn(spark, sf_dir)
    assert df.columns, f"{name}: empty schema"
    assert df.count() >= 0


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity_smoke_sf(spark, name):
    """Cross-SF parity at sf0.001 — a different data shape (smaller
    groups, emptier joins, boundary-heavier rounding denominators)
    than the driver's sf0.01. Added after this sweep caught
    q_udf_grouped_map's float-mean ROUND boundary flip that sf0.01
    masked: a green that only holds at one SF is a coincidence, not
    a contract."""
    from tests.conftest import SMOKE_SF_DIR

    compare_to_oracle(spark, SPECS[name], SMOKE_SF_DIR)
