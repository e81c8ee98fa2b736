"""Declared sink operators (SURVEY.md §2 B.1: snk_append_idem,
snk_partitioned). The write targets are temp dirs; the declared result
summarizes the sink state so idempotence is oracle-checkable."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_etl_spark.io import read_table, scratch_dir
from weather_etl_spark.registry import register
from weather_etl_spark.sinks import (
    derby_shutdown,
    derby_url,
    idempotent_append,
    jdbc_create_keyed_table,
    jdbc_merge_append,
    jdbc_read_table,
)


@register(
    "snk_append_idem",
    oracle="""
SELECT (SELECT COUNT(*) FROM events) AS first_insert,
       0                             AS second_insert,
       (SELECT COUNT(*) FROM events) AS total_rows
""",
    doc="Idempotent keyed append: writing the same batch twice inserts "
    "0 the second time and leaves the sink unchanged — the reference's "
    "ON CONFLICT (date) DO NOTHING re-expressed (A11/A14, "
    "lambda_function.py:176-186).",
    scale_notes="Anti-join reads only the sink's key column; with a "
    "date-partitioned sink + bounded cursor window it prunes to the "
    "overlap partitions.",
)
def snk_append_idem(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    tmp = tempfile.mkdtemp(prefix="snk_append_idem_")
    sink = f"{tmp}/sink"
    try:
        first = idempotent_append(spark, ev, sink, ["event_id"]).rows
        second = idempotent_append(spark, ev, sink, ["event_id"]).rows
        # Empty batches never create the sink (A12 short-circuit in
        # idempotent_append), so read back with the EXPLICIT batch
        # schema and treat a never-materialized sink as zero rows —
        # an incremental run with no new data must be a no-op, not an
        # inference error.
        total = (
            spark.read.schema(ev.schema).parquet(sink).count()
            if os.path.exists(sink)
            else 0
        )
        return spark.createDataFrame(
            [(first, second, total)],
            "first_insert long, second_insert long, total_rows long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "snk_partitioned",
    oracle="""
SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS n
FROM events GROUP BY CAST(ts AS DATE)
""",
    doc="Partitioned Parquet write (partitionBy event_date) + read-back "
    "with partition-column recovery.",
    scale_notes="Directory partitioning is the engine's primary 100 TB "
    "layout: every date/cursor predicate becomes partition pruning; "
    "repartition by the partition key before writing to avoid "
    "small-files explosion (one file per task per key otherwise).",
)
def snk_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        read_table(spark, sf_dir, "events")
        .withColumn("event_date", F.to_date("ts"))
        .select("event_id", "value", "event_date")
    )
    tmp = tempfile.mkdtemp(prefix="snk_partitioned_")
    sink = f"{tmp}/sink"
    try:
        ev.repartition("event_date").write.partitionBy("event_date").parquet(sink)
        # Explicit schema on read-back (fail-fast/no-inference contract,
        # SURVEY §1.3) — also makes a zero-row write (directory with no
        # data files) readable instead of an inference error.  Partition
        # values are still recovered from the directory names; the
        # schema only types them.
        back = spark.read.schema(ev.schema).parquet(sink)
        return (
            back.groupBy("event_date")
            .agg(F.count(F.lit(1)).alias("n"))
            .localCheckpoint()  # materialize before the tmp dir vanishes
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "snk_csv_roundtrip",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""",
    doc="CSV sink + source round-trip: nation written as headered CSV "
    "to a temp dir, read back with the EXPLICIT schema (no inference — "
    "the reference's fail-fast DDL-first contract, A9), returned "
    "losslessly (int/string columns only, so text format is exact).",
    scale_notes="CSV is the interchange format, not the analytical one: "
    "no column pruning, no predicate pushdown, no row-group stats. The "
    "engine reads it at the edge and lands Parquet immediately.",
)
def snk_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = scratch_dir("snk_csv")
    nat = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nat.write.mode("overwrite").option("header", "true").csv(tmp)
    back = (
        spark.read.schema("n_nationkey long, n_name string, n_regionkey long")
        .option("header", "true")
        .csv(tmp)
    )
    # Materialize before the temp dir can be cleaned up.
    return back.localCheckpoint()


@register(
    "snk_json_roundtrip",
    oracle="""
SELECT r_regionkey, r_name FROM region
""",
    doc="JSON-lines sink + source round-trip: region written as JSONL, "
    "read back with the explicit schema (A9: no inference in production "
    "paths).",
    scale_notes="Same edge-format caveats as CSV; JSONL additionally "
    "pays per-row parse. Land to Parquet at ingest.",
)
def snk_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = scratch_dir("snk_json")
    reg = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    reg.write.mode("overwrite").json(tmp)
    back = spark.read.schema("r_regionkey long, r_name string").json(tmp)
    return back.localCheckpoint()


@register(
    "q_set_union_byname",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
UNION ALL
SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey
FROM nation
""",
    doc="Schema-evolving union: two frames with different column sets "
    "(one lacks n_regionkey, and its columns are in a different order) "
    "combined by NAME with missing columns null-filled — the safe "
    "union for evolving pipelines, where positional UNION silently "
    "mis-binds.",
    scale_notes="unionByName is a zero-shuffle concatenation plus a "
    "projection per side; the null-fill costs nothing. At 100 TB this "
    "is how monthly re-crawls with added fields append onto an "
    "existing corpus without rewriting history.",
)
def q_set_union_byname(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = read_table(spark, sf_dir, "nation")
    full = nat.select("n_nationkey", "n_name", "n_regionkey")
    # different column ORDER and a missing column — both healed by name
    partial = nat.select("n_name", "n_nationkey")
    return full.unionByName(partial, allowMissingColumns=True)


@register(
    "snk_schema_evolution",
    oracle="""
SELECT r_regionkey, r_name, CAST(NULL AS BIGINT) AS name_len, 1 AS batch
FROM region
UNION ALL
SELECT r_regionkey, r_name, CAST(length(r_name) AS BIGINT) AS name_len,
       2 AS batch
FROM region
""",
    doc="Parquet schema evolution at the source: batch 1 lands without "
    "the name_len column, batch 2 adds it; a mergeSchema read returns "
    "the superset schema with nulls for pre-evolution rows — the "
    "storage-level dual of q_set_union_byname.",
    scale_notes="mergeSchema unions footers at planning time (cost "
    "O(files); cache the merged schema in a table catalog at scale). "
    "Readers never rewrite old files — new columns are null-filled at "
    "scan, which is what makes additive evolution free on a 100 TB "
    "corpus.",
)
def snk_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = scratch_dir("snk_evolve")
    reg = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    reg.withColumn("batch", F.lit(1)).write.mode("overwrite").parquet(
        f"{tmp}/b1"
    )
    reg.withColumn(
        "name_len", F.length("r_name").cast("bigint")
    ).withColumn("batch", F.lit(2)).write.mode("overwrite").parquet(
        f"{tmp}/b2"
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{tmp}/b1", f"{tmp}/b2"
    )
    return merged.select(
        "r_regionkey", "r_name", "name_len", "batch"
    ).localCheckpoint()


@register(
    "snk_orc_roundtrip",
    oracle="""
SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
""",
    doc="ORC sink + source round-trip: supplier written as ORC (the "
    "second columnar format Spark ships natively), read back with the "
    "explicit schema (A9: no inference in production paths), returned "
    "losslessly — doubles survive bit-exactly through ORC's binary "
    "encoding, unlike text formats.",
    scale_notes="ORC keeps the columnar contract Parquet gives us: "
    "column pruning, predicate pushdown, stripe-level stats. Included "
    "so a reference user with ORC lakes can land data without a "
    "format migration; the engine's default remains Parquet.",
)
def snk_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = scratch_dir("snk_orc")
    sup = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    sup.write.mode("overwrite").orc(tmp)
    back = spark.read.schema(
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
    ).orc(tmp)
    return back.localCheckpoint()


@register(
    "snk_xml_roundtrip",
    oracle="""
SELECT r_regionkey, r_name FROM region
""",
    doc="XML sink + source round-trip (Spark 4 ships the XML source "
    "built-in): region written with rowTag/rootTag, read back with the "
    "explicit schema (A9: no inference in production paths) — the "
    "enterprise-interchange edge format alongside CSV/JSONL/ORC.",
    scale_notes="Same edge-format caveats as CSV/JSONL (row-oriented "
    "text, no pruning or pushdown) plus per-row tag parsing; the "
    "engine reads XML at the boundary and lands Parquet immediately.",
)
def snk_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = scratch_dir("snk_xml")
    reg = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    (
        reg.write.format("xml")
        .option("rootTag", "regions")
        .option("rowTag", "region")
        .mode("overwrite")
        .save(tmp)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "region")
        .schema("r_regionkey long, r_name string")
        .load(tmp)
    )
    return back.localCheckpoint()


@register(
    "snk_text_roundtrip",
    oracle="""
SELECT COUNT(*) AS n_lines,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       CAST(SUM(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT))
            AS BIGINT) AS text_checksum
FROM documents
""",
    doc="Plain-text sink + source round-trip (spark.write.text / "
    "spark.read.text — the line-oriented format raw corpus dumps "
    "arrive in): each document becomes one line 'doc_id md5(text)', "
    "written to a temp dir and read back with read.text; the returned "
    "aggregate (line count, id sum, text-hash checksum) must equal "
    "the same aggregate computed directly on the source table, "
    "proving the round-trip lost nothing. Hashing before write keeps "
    "the lines newline-free by construction, the correct discipline "
    "for a one-record-per-line format.",
    scale_notes="Text is the ingest format, not the processing one: "
    "no schema, no pruning, no stats. The engine's pattern is "
    "read.text at the edge -> parse -> land Parquet; the round-trip "
    "checksum is how a 100 TB ingest job validates a transfer "
    "without re-reading payloads twice (aggregate once per side).",
)
def snk_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = scratch_dir("snk_text")
    docs = read_table(spark, sf_dir, "documents")
    lines = docs.select(
        F.concat_ws(
            " ", F.col("doc_id").cast("string"), F.md5("text")
        ).alias("value")
    )
    lines.write.mode("overwrite").text(tmp)
    back = spark.read.text(tmp)
    parsed = back.select(
        F.split_part(F.col("value"), F.lit(" "), F.lit(1))
        .cast("bigint")
        .alias("doc_id"),
        F.split_part(F.col("value"), F.lit(" "), F.lit(2)).alias("h"),
    )
    out = parsed.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
        F.sum(
            F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint")
        )
        .cast("bigint")
        .alias("text_checksum"),
    )
    # Materialize before any scratch cleanup.
    return out.localCheckpoint()


@register(
    "snk_csv_quoted",
    oracle="""
WITH tricky AS (
  SELECT n_nationkey AS k,
         'a,"' || n_name || '"' || chr(10) || 'tail,' AS s
  FROM nation
)
SELECT COUNT(*) AS n,
       CAST(SUM(octet_length(encode(s))) AS BIGINT) AS total_bytes,
       COUNT(DISTINCT s) AS n_distinct,
       MIN(s) AS min_s,
       CAST(SUM(k) AS BIGINT) AS key_sum
FROM tricky
""",
    doc="CSV quoting/escaping round-trip on hostile field content: "
    "strings carrying embedded commas, double-quotes, AND a "
    "newline are written through the CSV sink (writer quotes and "
    "escapes them) and read back with multiLine parsing under the "
    "explicit schema. The aggregate fingerprint (count, byte "
    "total, distinct count, min string, key checksum) is computed "
    "over the ROUND-TRIPPED rows on the Spark side but derived "
    "directly from nation in the oracle — equality proves the "
    "round-trip is byte-lossless even for the delimiter-collision "
    "cases that break naive CSV handling.",
    scale_notes="Same edge-format story as snk_csv_roundtrip, plus "
    "the operational caveat multiLine implies: embedded newlines "
    "make CSV files non-splittable per record boundary guess, so "
    "at scale quoted-newline data belongs in Parquet immediately "
    "after ingest; the sink demonstrates correctness of the "
    "interchange hop, not a recommendation.",
)
def snk_csv_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = read_table(spark, sf_dir, "nation")
    tricky = nat.select(
        F.col("n_nationkey").alias("k"),
        F.concat(
            F.lit('a,"'), F.col("n_name"), F.lit('"'),
            F.lit("\n"), F.lit("tail,"),
        ).alias("s"),
    )
    tmp = scratch_dir("snk_csv_quoted")
    tricky.write.mode("overwrite").option("header", "true").csv(tmp)
    back = (
        spark.read.schema("k long, s string")
        .option("header", "true")
        .option("multiLine", "true")
        .csv(tmp)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("s")).cast("bigint").alias("total_bytes"),
        F.count_distinct("s").alias("n_distinct"),
        F.min("s").alias("min_s"),
        F.sum("k").cast("bigint").alias("key_sum"),
    )


@register(
    "snk_manifest",
    oracle="""
WITH span AS (
  SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi,
         CAST(CEIL((MAX(o_orderkey) - MIN(o_orderkey) + 1) / 4.0)
              AS BIGINT) AS width
  FROM orders
), bucketed AS (
  SELECT CAST((o_orderkey - span.lo) // span.width AS BIGINT) AS bucket,
         o_orderkey
  FROM orders CROSS JOIN span
), manifest AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
         MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
  FROM bucketed GROUP BY bucket
), probe AS (
  -- exact integer division on BOTH sides (Spark div / DuckDB //):
  -- double-to-bigint casts truncate in Spark but round-to-nearest in
  -- DuckDB, so a key span not divisible by 8 would flip a boundary
  -- bucket's `scanned` flag between engines
  SELECT lo + (3 * (hi - lo + 1)) // 8 AS p_lo,
         lo + (5 * (hi - lo + 1)) // 8 AS p_hi
  FROM span
)
SELECT m.bucket, m.n_rows, m.min_key, m.max_key,
       (m.min_key <= probe.p_hi AND m.max_key >= probe.p_lo) AS scanned
FROM manifest m CROSS JOIN probe
ORDER BY m.bucket
""",
    doc="Lake manifest + file-skipping proof: orders written as a "
    "4-bucket key-range-clustered Parquet dataset (deterministic "
    "integer bucketing, one file per bucket), then a stats manifest "
    "(rows, min/max key per bucket) is rebuilt FROM THE WRITTEN "
    "FILES and probed with a key-range query — `scanned` marks the "
    "files whose [min,max] overlaps the probe, exactly the footer-"
    "stats skipping decision a lake engine makes. The central-"
    "quarter probe keeps ~half the files unscanned.",
    scale_notes="Write side: repartition by bucket, one task per "
    "file, directory-per-bucket — the compaction-friendly layout "
    "q_layout_compaction plans. Manifest side: input-file grouping "
    "over footer-pruned scans (n_rows + min/max only, never data "
    "columns at 100 TB). Range clustering is what makes min/max "
    "manifests selective — random layout degenerates every file "
    "to scanned=true (the q_layout_zorder argument, 1-D case).",
)
def snk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey")
    span = orders.agg(
        F.min("o_orderkey").alias("lo"),
        F.max("o_orderkey").alias("hi"),
        F.ceil(
            (F.max("o_orderkey") - F.min("o_orderkey") + 1) / F.lit(4.0)
        )
        .cast("bigint")
        .alias("width"),
    )
    bucketed = orders.crossJoin(F.broadcast(span)).select(
        F.expr("div(o_orderkey - lo, width)")  # exact integer division
        .cast("bigint")
        .alias("bucket"),
        "o_orderkey",
    )
    tmp = tempfile.mkdtemp(prefix="snk_manifest_")
    sink = f"{tmp}/lake"
    try:
        (
            bucketed.repartition(4, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(sink)
        )
        back = spark.read.schema(bucketed.schema).parquet(sink)
        manifest = (
            back.withColumn("file", F.input_file_name())
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
            )
        )
        # exact integer division (floor), mirroring the oracle's `//`:
        # a double division + bigint cast truncates in Spark but rounds
        # in DuckDB, diverging when the key span is not a multiple of 8
        probe = span.select(
            F.expr("lo + div(3 * (hi - lo + 1), 8)").alias("p_lo"),
            F.expr("lo + div(5 * (hi - lo + 1), 8)").alias("p_hi"),
        )
        return (
            manifest.crossJoin(F.broadcast(probe))
            .select(
                "bucket",
                "n_rows",
                "min_key",
                "max_key",
                (
                    (F.col("min_key") <= F.col("p_hi"))
                    & (F.col("max_key") >= F.col("p_lo"))
                ).alias("scanned"),
            )
            .orderBy("bucket")
            .localCheckpoint()  # materialize before the tmp dir vanishes
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "src_parquet_merge",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_props,
       CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_props_null,
       3 AS n_cols
FROM events
""",
    doc="Schema-merge source: the events table written as two "
    "parquet generations — an old one with (event_id, value) and a "
    "new one adding props — read back in one pass with "
    "mergeSchema=true, the union schema materializing NULL props "
    "for the old generation (the read-side half of "
    "snk_schema_evolution's write-side story, and how a lake "
    "absorbs additive schema change without rewriting history).",
    scale_notes="mergeSchema reconciles footers at planning time "
    "(cost: one footer read per file — keep it off and pin the "
    "schema once evolution stabilizes, as read_table does for the "
    "fixture tables); the data path remains pruned columnar scans "
    "with NULL fill, no rewrite of old files ever.",
)
def src_parquet_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "value", "props"
    )
    tmp = tempfile.mkdtemp(prefix="src_parquet_merge_")
    try:
        old_gen = ev.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "value"
        )
        new_gen = ev.filter(F.col("event_id") % 2 == 1)
        old_gen.write.mode("overwrite").parquet(f"{tmp}/lake/gen=0")
        new_gen.write.mode("overwrite").parquet(f"{tmp}/lake/gen=1")
        merged = spark.read.option("mergeSchema", "true").parquet(
            f"{tmp}/lake/gen=0", f"{tmp}/lake/gen=1"
        )
        return (
            merged.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.col("props").isNotNull().cast("int"))
                .cast("bigint")
                .alias("n_with_props"),
                F.sum(F.col("props").isNull().cast("int"))
                .cast("bigint")
                .alias("n_props_null"),
                F.lit(len(merged.columns)).alias("n_cols"),
            ).localCheckpoint()  # materialize before the tmp dir vanishes
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "snk_jdbc_idem",
    oracle="""
SELECT (SELECT COUNT(*) FROM events WHERE event_id % 6 = 2)
           AS first_insert,
       (SELECT COUNT(*) FROM events WHERE event_id % 6 = 5)
           AS second_insert,
       (SELECT COUNT(*) FROM events WHERE event_id % 6 IN (2, 5))
           AS total_rows
""",
    doc="Idempotent keyed append through a REAL JDBC database: the "
    "reference's PostgreSQL `INSERT ... ON CONFLICT (date) DO NOTHING` "
    "(lambda_function.py:176-188) exercised against embedded Apache "
    "Derby (ships with Spark) via the real Spark JDBC writer plus one "
    "set-based MERGE. Two OVERLAPPING batches — the reference's "
    "self-healing incremental window, which re-fetches already-loaded "
    "days every run — land via stage-then-MERGE; the second batch "
    "contains the whole first batch and must insert only the genuinely "
    "new keys. DDL-first with an explicit PRIMARY KEY (A9: the target "
    "exists before any write; no schema inference). Identifiers are "
    "quoted throughout because the Spark JDBC writer creates "
    "case-sensitive lowercase columns.",
    scale_notes="The cluster shape is identical with the URL swapped "
    "for a real PostgreSQL/JDBC endpoint: executors write the staging "
    "table in parallel (numPartitions x batchsize bounded by what the "
    "DB ingests), and conflict resolution happens server-side in ONE "
    "set-based MERGE/ON CONFLICT statement over the staged batch — "
    "never per-row upserts through the driver. Embedded Derby is the "
    "hermetic stand-in (driver-local, so the staging write is "
    "coalesced to bound concurrent embedded connections); the "
    "anti-join Parquet twin of this contract is snk_append_idem.",
)
def snk_jdbc_idem(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    tmp = tempfile.mkdtemp(prefix="snk_jdbc_idem_")
    db = f"{tmp}/db"
    url = derby_url(db, create=True)
    try:
        jdbc_create_keyed_table(
            spark,
            url,
            "target",
            [
                ("event_id", "BIGINT"),
                ("ts", "TIMESTAMP"),
                ("user_id", "BIGINT"),
                ("value", "DOUBLE"),
            ],
            ["event_id"],
        )
        # The batches are a deterministic THIRD of events (one embedded
        # Derby database boots per call and ingests row-batches through
        # a single JVM — the hermetic stand-in, not the scale path, so
        # the declared row bounds its cost; the cluster shape stages
        # the full batch executor-parallel into a server DB).
        first = jdbc_merge_append(
            spark,
            ev.filter(F.col("event_id") % 6 == 2),
            url,
            "target",
            ["event_id"],
        )
        # Batch 2 is a SUPERSET of batch 1 — the reference's overlapping
        # incremental window; only the genuinely new keys may insert.
        second = jdbc_merge_append(
            spark,
            ev.filter((F.col("event_id") % 6).isin(2, 5)),
            url,
            "target",
            ["event_id"],
        )
        total = jdbc_read_table(spark, url, "target").count()
        return spark.createDataFrame(
            [(first, second, total)],
            "first_insert long, second_insert long, total_rows long",
        )
    finally:
        derby_shutdown(spark, db)
        shutil.rmtree(tmp, ignore_errors=True)
