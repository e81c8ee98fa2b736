"""Tracked ``localCheckpoint`` lifecycle management.

``df.localCheckpoint()`` (eager) persists the materialized RDD in the
executors' block managers at MEMORY_AND_DISK and truncates lineage.
Spark never frees those blocks until the session dies — so iterative
operators (connected-components loops) and checkpoint-returning
queries accumulate dead blocks across a long session. At 100 TB that
is executor storage pressure that outlives the query (observed
locally: q_llm_repetition ran 39.7 s inside the sf0.1 sweep vs 5.0 s
isolated when scheduled after checkpoint-heavy rows — SCALE.md).

Two release paths:

- **In-operator** (:func:`tracked_local_checkpoint` +
  :func:`release_rdds`): iterative loops release round N-1's blocks as
  soon as round N is materialized and every consumer of round N-1 has
  run. This is the real fix — bounded checkpoint footprint regardless
  of round count.
- **Between-queries** (:func:`release_session_checkpoints`): harness
  sweeps and test sessions drop EVERY persisted RDD once a query's
  result has been fully consumed. Only safe at a query boundary —
  a released localCheckpoint cannot be recomputed (lineage is gone),
  so any still-live DataFrame built on one will fail with
  CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.

Why id-diff tracking instead of ``df.rdd.unpersist()``: the Python
``df.rdd`` wrapper creates a NEW deserialization RDD, not the
checkpointed internal one; the only stable handle on the persisted
RDD is its entry in ``SparkContext.getPersistentRDDs``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _persistent_ids(spark: SparkSession) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def tracked_local_checkpoint(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """Eagerly localCheckpoint ``df``; return (checkpointed_df, rdd_ids).

    The returned ids identify the block-manager entries the checkpoint
    pinned; hand them to :func:`release_rdds` once every consumer of
    the checkpointed DataFrame has executed.  A checkpoint job that
    fails leaves its RDD pinned; those ids are released before the
    error propagates.
    """
    spark = df.sparkSession
    before = _persistent_ids(spark)
    try:
        out = df.localCheckpoint()
    except BaseException:
        release_rdds(spark, _persistent_ids(spark) - before)
        raise
    return out, _persistent_ids(spark) - before


def release_rdds(spark: SparkSession, ids: set[int]) -> None:
    """Unpersist the tracked RDD ids (non-blocking). Safe to call with
    already-released ids (no-op)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        jrdd = jmap.get(i)
        if jrdd is not None:
            jrdd.unpersist(False)


def release_session_checkpoints(spark: SparkSession) -> int:
    """Drop EVERY persisted RDD in the session plus the SQL cache.

    Query-boundary cleanup for sweep harnesses and shared test
    sessions: localCheckpoint blocks, ml-internal caches, and
    operator-level ``persist()`` residue all go. Returns the number of
    RDDs released. Must only run after the previous query's result has
    been fully consumed (collected/written) — released checkpoints are
    unrecoverable by design.
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    keys = list(jmap.keySet().toArray())
    for k in keys:
        jrdd = jmap.get(k)
        if jrdd is not None:
            jrdd.unpersist(False)
    spark.catalog.clearCache()
    return len(keys)
