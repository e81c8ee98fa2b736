"""Parquet sinks: idempotent keyed append + partitioned writes.

The reference's sink is ``INSERT ... ON CONFLICT (date) DO NOTHING``
(/root/reference/lambda_function.py:176-186, operator A11) — an
idempotent keyed append in one transaction.  Plain Parquet has no
MERGE or PK, so the engine's equivalent (SURVEY.md §7.5) is:

    new.dropDuplicates(key)                 # dedup within the batch
       .join(existing, key, "left_anti")    # drop keys already present
       -> write.mode("append")              # append only the novel rows

Crash safety: Spark's Parquet committer stages task output under
``_temporary`` and commits per job, so a failed write leaves no
visible files; a re-run after any failure re-applies the same
anti-join and converges (at-least-once attempt + keyed dedup =
exactly-once effect — reference invariant #1, SURVEY.md §2).

Scale notes (100 TB): the anti-join only needs the sink's KEY column
(column-pruned scan over parquet footers); with a date-partitioned
sink and a bounded cursor window the existing-side scan prunes to the
overlap partitions — the same trick the reference uses with
``past_days=1`` (A14).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel


def idempotent_append(
    spark: SparkSession,
    new_rows: DataFrame,
    sink_path: str,
    key_cols: Sequence[str],
) -> int:
    """Append only rows whose key is not already in the sink.

    Returns the number of rows inserted (the reference returns
    ``cursor.rowcount`` the same way, lambda_function.py:186,190).
    The sink's keys are read with the batch's own key types, so a sink
    directory without data files yet reads as empty instead of failing
    schema inference.
    """
    deduped = new_rows.dropDuplicates(list(key_cols))
    if os.path.exists(sink_path):
        key_schema = StructType([new_rows.schema[k] for k in key_cols])
        existing_keys = spark.read.schema(key_schema).parquet(sink_path)
        to_insert = deduped.join(existing_keys, on=list(key_cols), how="left_anti")
    else:
        to_insert = deduped
    # Persist the anti-join output so the sink-scan + anti-join plan
    # executes exactly ONCE per run: count materializes the cache, the
    # write replays it.  (Count-then-write on the raw plan would run the
    # merge twice — at 100 TB that doubles the merge cost, and a
    # non-deterministic source could report a count that differs from
    # the rows written.)  The cache is bounded by the BATCH size (the
    # cursor window), never the sink size.  The count doubles as the
    # empty-input short-circuit (A12): no rows -> no write job at all.
    to_insert = to_insert.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        inserted = to_insert.count()
        if inserted > 0:
            to_insert.write.mode("append").parquet(sink_path)
    finally:
        to_insert.unpersist()
    return inserted


def derby_url(db_path: str, create: bool = False) -> str:
    """Embedded-Derby JDBC URL for a database rooted at ``db_path``.

    Derby ships inside Spark's own jar directory, so the JDBC lane is
    exercisable hermetically; at cluster scale the SAME call sites take
    a ``jdbc:postgresql://...`` URL instead (the reference's real sink,
    lambda_function.py:168-174).
    """
    return f"jdbc:derby:{db_path}{';create=true' if create else ''}"


def _driver_connection(spark: SparkSession, url: str):
    """Driver-side java.sql.Connection via the session JVM (py4j).

    Used ONLY for bounded DDL / one set-based MERGE per batch — never
    per-row work; executors talk to the database exclusively through
    the Spark JDBC writer.
    """
    jvm = spark._jvm
    # Silence the engine-wide derby.log (the property is read once at
    # Derby engine boot; harmless no-op afterwards).
    jvm.java.lang.System.setProperty("derby.stream.error.file", os.devnull)
    return jvm.java.sql.DriverManager.getConnection(url)


def jdbc_create_keyed_table(
    spark: SparkSession,
    url: str,
    table: str,
    columns: Sequence[tuple[str, str]],
    key_cols: Sequence[str],
) -> None:
    """DDL-first keyed target (A9: the table exists, with its PRIMARY
    KEY, before any write — no schema inference in production paths).

    Identifiers are quoted because the Spark JDBC writer creates
    case-sensitive lowercase columns; unquoted DDL would fold to
    uppercase and the MERGE would not resolve them.
    """
    cols = ", ".join(f'"{n}" {t}' for n, t in columns)
    keys = ", ".join(f'"{k}"' for k in key_cols)
    conn = _driver_connection(spark, url)
    try:
        st = conn.createStatement()
        st.executeUpdate(
            f'CREATE TABLE "{table}" ({cols}, PRIMARY KEY ({keys}))'
        )
        st.close()
    finally:
        conn.close()


def jdbc_merge_append(
    spark: SparkSession,
    batch: DataFrame,
    url: str,
    table: str,
    key_cols: Sequence[str],
    staging_table: str = "staging",
    staging_partitions: int = 4,
    batchsize: int = 20000,
) -> int:
    """Keyed idempotent append through a REAL JDBC database: the
    reference's ``INSERT ... ON CONFLICT (date) DO NOTHING``
    (lambda_function.py:176-188) as stage-then-MERGE.

    The batch is deduped on the key (ON CONFLICT DO NOTHING also
    swallows intra-batch key repeats; SQL MERGE instead ERRORS on a
    duplicate source key, so the dedup restores the reference
    semantics), staged through the Spark JDBC writer, then folded into
    the target with ONE set-based ``MERGE ... WHEN NOT MATCHED THEN
    INSERT`` — conflict resolution happens server-side over the whole
    batch, never per-row through the driver.  Returns the number of
    rows actually inserted (the reference returns ``cursor.rowcount``
    the same way, lambda_function.py:186,190).

    Scale notes (100 TB): against a server database the staging write
    parallelizes across executors (``numPartitions`` x ``batchsize``
    bounded by what the DB ingests); embedded Derby is driver-local, so
    the staging write is coalesced to bound concurrent embedded
    connections.  The MERGE cost is one server-side hash join of
    staging against the target's PK index — proportional to the BATCH,
    not the sink.
    """
    deduped = batch.dropDuplicates(list(key_cols))
    (
        deduped.coalesce(staging_partitions)
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", f'"{staging_table}"')
        # Spark's JDBC default of 1000 leaves 2.4x on the table against
        # embedded Derby (measured at 100k rows: 6.8 s -> 2.8 s); a
        # server DB tunes this against its ingest path instead.
        .option("batchsize", str(batchsize))
        .mode("overwrite")
        .save()
    )
    on = " AND ".join(f't."{k}" = s."{k}"' for k in key_cols)
    col_list = ", ".join(f'"{c}"' for c in deduped.columns)
    val_list = ", ".join(f's."{c}"' for c in deduped.columns)
    conn = _driver_connection(spark, url)
    try:
        st = conn.createStatement()
        inserted = st.executeUpdate(
            f'MERGE INTO "{table}" t USING "{staging_table}" s ON {on} '
            f"WHEN NOT MATCHED THEN INSERT ({col_list}) "
            f"VALUES ({val_list})"
        )
        st.close()
        return inserted
    finally:
        conn.close()


def jdbc_read_table(spark: SparkSession, url: str, table: str) -> DataFrame:
    """Read a JDBC table back as a DataFrame (single-partition read —
    the call sites are bounded summary checks; a cluster-scale readback
    would pass partitionColumn/numPartitions)."""
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", f'"{table}"')
        .load()
    )


def derby_shutdown(spark: SparkSession, db_path: str) -> None:
    """Shut down one embedded-Derby database so its directory can be
    removed.  Per the JDBC spec a successful single-database shutdown
    SIGNALS VIA SQLException (SQLState 08006) — it always raises."""
    try:
        _driver_connection(spark, f"jdbc:derby:{db_path};shutdown=true")
    except Exception:
        pass


def write_partitioned(
    df: DataFrame,
    sink_path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Partitioned Parquet write — the engine's 100 TB layout primitive.

    Partition columns become directory keys (``col=value``), giving
    free partition pruning to every downstream cursor/date filter.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(sink_path)
