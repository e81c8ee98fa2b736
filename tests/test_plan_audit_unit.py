"""Self-tests for the plan auditors (fast lane).

The registry-wide invariants in test_plan_audit.py are only as good
as their detectors: if a PySpark upgrade renamed a Catalyst node or
changed the py4j surface, ``keyless()`` would return [] for every
plan and the verdict would pass vacuously.  These tests prove each
detector fires on a plan constructed to trip it and stays silent on
the clean twin, and that the verdict admits exactly what Catalyst
bounds, so a runtime flip breaks the suite loudly instead of
hollowing out the invariant.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from weather_etl_spark.plan_audit import (
    keyless,
    plan_audit,
    plan_nodes,
    run_final,
)

pytestmark = pytest.mark.fast

#: A query name no ledger lists: the verdict sees only the plan.
UNLISTED = "q_plan_audit_unit"

#: The physical plans of a join without an equi-join key.
KEYLESS_JOINS = {"CartesianProduct", "BroadcastNestedLoopJoin"}


@pytest.fixture(scope="module")
def pair_df(spark):
    """``range(100)``: Catalyst bounds it at 100 rows."""
    return spark.range(100).withColumn("k", F.col("id") % 5)


@pytest.fixture(scope="module")
def scan_df(spark, sf_dir):
    """A parquet scan: Catalyst has no row bound for it."""
    return spark.read.parquet(f"{sf_dir}/region.parquet")


@pytest.fixture(scope="module")
def unbounded_cross(scan_df):
    return scan_df.crossJoin(scan_df.select(F.col("r_regionkey").alias("k2")))


def _by_rank(df):
    return df.withColumn("rn", F.row_number().over(Window.orderBy("rk")))


def test_keyless_window_detector_fires(pair_df):
    df = pair_df.withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    hits = [k for k in keyless(df) if k.kind == "window"]
    assert hits and "rn" in hits[0].what, hits
    assert hits[0].rows == 100, hits


def test_keyless_window_detector_silent_when_partitioned(pair_df):
    df = pair_df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("k").orderBy("id"))
    )
    assert keyless(df) == []


def test_keyless_window_detector_sees_subquery_plans(spark, pair_df):
    pair_df.createOrReplaceTempView("pair_df_audit_unit")
    df = spark.sql(
        "SELECT * FROM pair_df_audit_unit WHERE id IN "
        "(SELECT id FROM (SELECT id, row_number() OVER (ORDER BY id) rn "
        " FROM pair_df_audit_unit) WHERE rn <= 3)"
    )
    hits = [k for k in keyless(df) if k.kind == "window"]
    assert hits, "keyless window inside a subquery must be visible"


def test_physical_flags_detector_fires(unbounded_cross):
    nodes = plan_nodes(unbounded_cross)
    assert nodes.keys() & KEYLESS_JOINS, nodes


def test_physical_flags_detector_silent_on_equi_join(pair_df, spark):
    other = spark.range(10).withColumnRenamed("id", "k2")
    df = pair_df.join(other, pair_df.k == other.k2)
    nodes = plan_nodes(df)
    assert not nodes.keys() & KEYLESS_JOINS, nodes
    assert keyless(df) == []


def test_plan_nodes_name_the_equi_join(pair_df, spark):
    other = spark.range(10).withColumnRenamed("id", "k2")
    nodes = plan_nodes(pair_df.join(other, pair_df.k == other.k2))
    assert nodes["BroadcastHashJoin"] == 1, nodes


def test_plan_nodes_walk_into_query_stages(pair_df, spark):
    """Once the query ran, AQE's final plan hides each shuffle and the
    join above it inside query stages: the walk must descend them."""
    other = spark.range(10).withColumnRenamed("id", "k2")
    df = pair_df.join(other.hint("merge"), pair_df.k == other.k2)
    nodes = run_final(df)
    assert nodes["ShuffleQueryStage"] == 2, nodes
    assert nodes["Exchange"] == 2 and nodes["SortMergeJoin"] == 1, nodes


def test_cross_join_with_global_aggregate_is_admissible(scan_df):
    df = scan_df.crossJoin(scan_df.agg(F.count("*").alias("n")))
    assert [(k.kind, k.rows) for k in keyless(df)] == [("join", 1)]
    assert plan_audit(UNLISTED, df, plan_nodes(df)) == []


def test_unbounded_keyless_join_is_flagged(unbounded_cross):
    assert [(k.kind, k.rows) for k in keyless(unbounded_cross)] == [
        ("join", None)
    ]
    bad = plan_audit(UNLISTED, unbounded_cross, plan_nodes(unbounded_cross))
    assert len(bad) == 1 and "Join[no equi-join key]" in bad[0], bad


def test_keyless_window_over_limit_is_admissible(scan_df):
    df = _by_rank(scan_df.withColumnRenamed("r_regionkey", "rk").limit(20))
    assert [(k.kind, k.rows) for k in keyless(df)] == [("window", 20)]
    assert plan_audit(UNLISTED, df, plan_nodes(df)) == []


def test_keyless_window_over_unbounded_frame_is_flagged(scan_df):
    df = _by_rank(scan_df.withColumnRenamed("r_regionkey", "rk"))
    bad = plan_audit(UNLISTED, df, plan_nodes(df))
    assert len(bad) == 1 and "Window[no partitionBy] -> rn" in bad[0], bad
