"""Scan / projection / filter operators (SURVEY.md §2 B.1 + B.2).

These generalize the reference's source-side behaviors:
- columnar projection/assembly (A4, lambda_function.py:105-122),
- temporal + cursor filters with half-open semantics (A5/A6, :130-145),
- NaN/NULL normalization at boundaries (A10, :168-173),
- 15-minute time-axis generation, left-inclusive (A3, :106-111),
- MAX-cursor discovery (A8, :78) — here as a broadcast scalar join.

Scale notes (100 TB): projections and filters compile to parquet
PushedFilters + pruned ReadSchema (verify via .explain); the cursor is
a 1-row broadcast (no driver collect); the time axis is generated, not
scanned.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_etl_spark.functions.exact import md5_prefix_int
from weather_etl_spark.io import (
    TABLES,
    read_table,
    scratch_dir,
    table_path,
)
from weather_etl_spark.registry import register


@register(
    "q_scan_project",
    oracle="""
SELECT l_orderkey AS order_key, l_linenumber AS line_no,
       l_quantity AS qty, l_extendedprice AS price
FROM lineitem
""",
    doc="Parquet scan + projection + rename (A1/A4): column pruning "
    "reaches the scan's ReadSchema.",
    scale_notes="Reads 4 of 11 columns; no shuffle at all.",
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("price"),
    )


@register(
    "q_scan_count",
    oracle=" UNION ALL ".join(
        f"SELECT '{t}' AS table_name, COUNT(*) AS n FROM {t}" for t in TABLES
    ),
    doc="Full-scan row count per table via union of per-table counts (A1).",
    scale_notes="count(*) over parquet is answered from row-group metadata "
    "(no column IO).",
)
def q_scan_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = [
        read_table(spark, sf_dir, t).agg(
            F.lit(t).alias("table_name"), F.count(F.lit(1)).alias("n")
        )
        for t in TABLES
    ]
    return reduce(DataFrame.unionAll, counts)


@register(
    "q_filter_cmp",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
       l_extendedprice, l_linestatus
FROM lineitem
WHERE (l_quantity > 30 AND l_discount <= 0.05 AND NOT l_linestatus = 'F')
   OR l_extendedprice < 2000
""",
    doc="Comparison predicates with AND/OR/NOT (A5/A6 generalized).",
    scale_notes="Predicate pushes to parquet (PushedFilters); no shuffle.",
)
def q_filter_cmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    pred = (
        (F.col("l_quantity") > 30)
        & (F.col("l_discount") <= 0.05)
        & ~(F.col("l_linestatus") == "F")
    ) | (F.col("l_extendedprice") < 2000)
    return li.filter(pred).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_discount",
        "l_extendedprice",
        "l_linestatus",
    )


@register(
    "q_filter_in_between",
    oracle="""
SELECT o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE) AS order_date,
       o_orderpriority
FROM orders
WHERE o_orderstatus IN ('F', 'P')
  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                      AND TIMESTAMP '1997-12-31 00:00:00'
  AND o_orderpriority LIKE '1-%'
  AND o_totalprice IS NOT NULL
""",
    doc="IN / BETWEEN / LIKE / IS NULL predicate surface (A6).",
    scale_notes="All four predicates push down; IN-list becomes a parquet "
    "filter.",
)
def q_filter_in_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return (
        o.filter(
            F.col("o_orderstatus").isin("F", "P")
            & F.col("o_orderdate").between(
                F.lit("1996-01-01 00:00:00").cast("timestamp"),
                F.lit("1997-12-31 00:00:00").cast("timestamp"),
            )
            & F.col("o_orderpriority").like("1-%")
            & F.col("o_totalprice").isNotNull()
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.to_date("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
    )


@register(
    "q_filter_ts_cursor",
    oracle="""
SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
FROM events
WHERE ts > (SELECT max(ts) FROM events
            WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
  AND ts <= TIMESTAMP '2024-01-25 00:00:00'
""",
    doc="FLAGSHIP incremental cursor filter: strict > over a discovered "
    "MAX cursor, bounded above (reference A5+A6+A8, "
    "lambda_function.py:75-86,130-145).",
    scale_notes="The cursor aggregate reduces map-side to 1 row and is "
    "broadcast — no driver collect, no second full scan shuffle. At 100 TB "
    "the upper/lower bounds become partition-pruning predicates on a "
    "date-partitioned layout.",
)
def q_filter_ts_cursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    lower_probe = F.lit("2024-01-15 00:00:00").cast("timestamp")
    upper_bound = F.lit("2024-01-25 00:00:00").cast("timestamp")
    cursor = ev.filter(F.col("ts") <= lower_probe).agg(
        F.max("ts").alias("cursor_ts")
    )
    return (
        ev.crossJoin(F.broadcast(cursor))
        .filter((F.col("ts") > F.col("cursor_ts")) & (F.col("ts") <= upper_bound))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
    )


@register(
    "q_null_norm",
    oracle="""
WITH src AS (
  SELECT value,
         CASE WHEN event_id % 7 = 0 THEN 'NaN'::DOUBLE ELSE value END AS v_nan,
         CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v_b
  FROM events
), norm AS (
  SELECT v_nan, v_b,
         CASE WHEN isnan(v_nan) THEN NULL ELSE v_nan END AS v_a
  FROM src
)
SELECT COUNT(*) AS n_total,
       COUNT(CASE WHEN isnan(v_nan) THEN 1 END) AS n_nan,
       COUNT(CASE WHEN v_a IS NULL THEN 1 END) AS n_null_after,
       COUNT(CASE WHEN v_a IS NOT DISTINCT FROM v_b THEN 1 END) AS n_nullsafe_eq,
       COUNT(COALESCE(v_a, v_b)) AS n_coalesce
FROM norm
""",
    doc="NaN->NULL normalization + null-safe equality (reference A10: NaN "
    "kept upstream, NULL only at the sink boundary, "
    "lambda_function.py:168-173). NaN injected deterministically.",
    scale_notes="Single pass, map-side aggregate to one row.",
)
def q_null_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    v_nan = F.when(F.col("event_id") % 7 == 0, F.lit(float("nan"))).otherwise(
        F.col("value")
    )
    v_b = F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("double")).otherwise(
        F.col("value")
    )
    # nanvl(x, NULL): the engine's sink-boundary normalization.
    v_a = F.nanvl(v_nan, F.lit(None).cast("double"))
    return ev.select(
        v_nan.alias("v_nan"), v_a.alias("v_a"), v_b.alias("v_b")
    ).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.isnan("v_nan"), 1)).alias("n_nan"),
        F.count(F.when(F.col("v_a").isNull(), 1)).alias("n_null_after"),
        F.count(F.when(F.col("v_a").eqNullSafe(F.col("v_b")), 1)).alias(
            "n_nullsafe_eq"
        ),
        F.count(F.coalesce("v_a", "v_b")).alias("n_coalesce"),
    )


@register(
    "q_seq_timeaxis",
    oracle="""
WITH slots AS (
  SELECT CAST(epoch(g) AS BIGINT) AS slot_s
  FROM generate_series(TIMESTAMP '2024-01-02 00:00:00',
                       TIMESTAMP '2024-01-03 00:00:00',
                       INTERVAL 15 MINUTE) t(g)
  WHERE g < TIMESTAMP '2024-01-03 00:00:00'
), ev AS (
  SELECT event_id, (epoch_us(ts) // 900000000) * 900 AS slot_s FROM events
)
SELECT s.slot_s, COUNT(ev.event_id) AS n_events
FROM slots s LEFT JOIN ev ON s.slot_s = ev.slot_s
GROUP BY s.slot_s
""",
    doc="15-min time-axis generation, left-inclusive [start, end), joined "
    "to events (reference A3: pd.date_range inclusive='left', "
    "lambda_function.py:106-111).",
    scale_notes="Axis is generated (96 rows), events bucket by integer "
    "math — the join broadcasts the axis side.",
)
def q_seq_timeaxis(spark: SparkSession, sf_dir: str) -> DataFrame:
    start = F.lit("2024-01-02 00:00:00").cast("timestamp")
    end = F.lit("2024-01-03 00:00:00").cast("timestamp")
    slots = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(start, end, F.expr("INTERVAL 15 MINUTES"))
            ).alias("slot")
        )
        .filter(F.col("slot") < end)  # half-open [start, end)
        .select(F.unix_timestamp("slot").alias("slot_s"))
    )
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        (F.expr("unix_micros(ts) div 900000000") * 900).alias("slot_s"),
    )
    return (
        F.broadcast(slots)
        .join(ev, "slot_s", "left")
        .groupBy("slot_s")
        .agg(F.count("event_id").alias("n_events"))
    )


@register(
    "q_scan_filemeta",
    oracle="""
SELECT 'orders.parquet' AS file_name, COUNT(*) AS n FROM orders
""",
    doc="Hidden file-metadata lineage columns: every Parquet scan "
    "exposes _metadata (file_name, file_size, row_index, ...) — the "
    "provenance a 100 TB pipeline records per row for reprocessing / "
    "poisoned-shard excision. Emits per-file row counts; the oracle "
    "pins the known single-file layout of the testdata tables.",
    scale_notes="_metadata is populated by the scan itself (no extra "
    "IO); grouping by file_name is bounded by the file count. The "
    "same column family drives row-level lineage joins when a shard "
    "must be recalled from a trained corpus.",
)
def q_scan_filemeta(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = spark.read.parquet(table_path(sf_dir, "orders"))
    return (
        od.select(F.col("_metadata.file_name").alias("file_name"))
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_sample_hash",
    oracle="""
SELECT event_id, event_type, value
FROM events
WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0', '1')
""",
    doc="Deterministic hash sampling: an md5-prefix predicate keeps a "
    "reproducible ~1/8 of rows, independent of partitioning, row "
    "order, or engine (md5 of the decimal key string is identical "
    "everywhere — unlike TABLESAMPLE / rand(seed), which are "
    "engine-specific). The standard way to carve stable train / "
    "validation / test splits from a corpus: disjoint samples come "
    "from disjoint prefix sets, and re-runs select the same rows.",
    scale_notes="Pure map-side narrow filter: no shuffle, no state, "
    "embarrassingly parallel, and composes with column pruning (the "
    "scan reads only the 3 output columns + key). md5 costs ~100ns/row "
    "JVM-side inside whole-stage codegen; at 100 TB the sample is the "
    "only data that leaves the scan stage.",
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.filter(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1).isin("0", "1")
    ).select("event_id", "event_type", "value")


@register(
    "q_sample_stratified",
    oracle="""
SELECT event_type, COUNT(*) AS n_sampled,
       MIN(event_id) AS first_id,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM events
WHERE (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4)) AS INT)
       % 100)
      < CASE event_type WHEN 'purchase' THEN 100
                        WHEN 'signup'   THEN 50
                        ELSE 10 END
GROUP BY event_type
""",
    doc="Deterministic STRATIFIED sampling (sampleBy without the "
    "engine-specific RNG): each stratum keeps a different fraction — "
    "100% of rare purchases, 50% of signups, 10% of everything else — "
    "selected by the md5-bucket of the row key against a per-stratum "
    "threshold, so the sample is reproducible across engines, runs, "
    "and partitionings. The class-rebalancing step of training-data "
    "curation; summarized per stratum (count / first id / id checksum) "
    "so the oracle verifies the exact row selection.",
    scale_notes="Map-side narrow filter like q_sample_hash: no "
    "shuffle for the selection, one tiny aggregate for the summary. "
    "Changing rates touches only the CASE thresholds — the md5 bucket "
    "is computed once however many strata exist.",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    bucket = (
        md5_prefix_int("event_id", 4).cast("int") % 100
    )
    rate = (
        F.when(F.col("event_type") == "purchase", 100)
        .when(F.col("event_type") == "signup", 50)
        .otherwise(10)
    )
    return (
        ev.filter(bucket < rate)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("event_id").alias("first_id"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
        )
    )


#: (column, kind) profile plan for the orders table — kind picks the
#: cross-engine stringification of min/max. CAVEAT for 'num': Java
#: String.format rounds HALF_UP while DuckDB printf rounds half-even,
#: so %.4f agrees only while the profiled values carry <= 4 exact
#: decimal digits (true for the cents-valued fixtures; a new 'num'
#: column with finer precision needs the integer-cents formatting
#: discipline instead).
_PROFILE_COLS: list[tuple[str, str]] = [
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _profile_oracle() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "int":
            mn, mx = f"printf('%d', MIN({c}))", f"printf('%d', MAX({c}))"
        elif kind == "num":
            mn, mx = f"printf('%.4f', MIN({c}))", f"printf('%.4f', MAX({c}))"
        elif kind == "ts":
            mn = f"strftime(MIN({c}), '%Y-%m-%d %H:%M:%S')"
            mx = f"strftime(MAX({c}), '%Y-%m-%d %H:%M:%S')"
        else:
            mn, mx = f"MIN({c})", f"MAX({c})"
        parts.append(
            f"SELECT '{c}' AS col, COUNT(*) AS n,\n"
            f"       COUNT(*) - COUNT({c}) AS n_null,\n"
            f"       COUNT(DISTINCT {c}) AS n_distinct,\n"
            f"       {mn} AS min_s, {mx} AS max_s\nFROM orders"
        )
    return "\nUNION ALL\n".join(parts)


@register(
    "q_scan_column_stats",
    oracle=_profile_oracle(),
    doc="Column profiler (the ANALYZE / data-catalog statistics "
    "collection pass): per column of orders — row count, null "
    "count, exact distinct count, and stringified min/max (printf "
    "formats and strftime patterns chosen to render identically in "
    "both engines). The oracle is a per-column UNION for clarity; "
    "the Spark side computes every statistic in ONE scan via a "
    "single multi-aggregate and unpivots the wide row.",
    scale_notes="One scan + one aggregation: the multiple "
    "COUNT(DISTINCT) columns plan through Spark's Expand (one "
    "shuffle carrying 6x keys of the distinct columns, each "
    "map-side pre-deduped). At 100 TB exact distincts swap for the "
    "portable HLL sketch (q_agg_hll_portable) column-wise; min/max/"
    "null-count come free from parquet footer stats via the scan.",
)
def q_scan_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = read_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c, _ in _PROFILE_COLS:
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
        aggs.append(F.min(F.col(c)).alias(f"mn_{c}"))
        aggs.append(F.max(F.col(c)).alias(f"mx_{c}"))
    wide = od.agg(*aggs)

    def fmt(kind: str, col: str):
        x = F.col(col)
        if kind == "int":
            return F.format_string("%d", x)
        if kind == "num":
            return F.format_string("%.4f", x)
        if kind == "ts":
            return F.date_format(x, "yyyy-MM-dd HH:mm:ss")
        return x

    structs = [
        F.struct(
            F.lit(c).alias("col"),
            F.col("n").alias("n"),
            (F.col("n") - F.col(f"nn_{c}")).alias("n_null"),
            F.col(f"nd_{c}").alias("n_distinct"),
            fmt(kind, f"mn_{c}").alias("min_s"),
            fmt(kind, f"mx_{c}").alias("max_s"),
        )
        for c, kind in _PROFILE_COLS
    ]
    return wide.select(
        F.explode(F.array(*structs)).alias("s")
    ).select("s.col", "s.n", "s.n_null", "s.n_distinct", "s.min_s", "s.max_s")


@register(
    "q_scan_partition_prune",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
""",
    doc="READ-side partition pruning (the static complement of "
    "q_join_dpp's dynamic pruning): orders land in scratch "
    "partitioned BY o_orderstatus, and the re-read carries a "
    "partition-column filter — the scan must touch only the 'O' "
    "directory, which the plan shows as a populated "
    "PartitionFilters list (asserted in tests/test_scale_plans.py). "
    "The aggregate proves the pruned read returns exactly the "
    "filtered relation.",
    scale_notes="Partition pruning is THE first-order 100 TB lever: "
    "a date/status-partitioned lake turns most predicates into "
    "directory listings, zero data IO for excluded partitions. "
    "Write-side layout (snk_partitioned) + this read contract are "
    "the two halves; partition-column choice follows the dominant "
    "filter axis (SCALE.md §1).",
)
def q_scan_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = scratch_dir("scan_pprune")
    orders = read_table(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(
        tmp
    )
    # Explicit schema on the re-read (A9: no inference in production
    # paths) — also what lets the op run on a zero-row layout, where
    # no partition directories exist to infer from.
    back = (
        spark.read.schema(orders.schema)
        .parquet(tmp)
        .filter(F.col("o_orderstatus") == "O")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )


@register(
    "q_sample_split3",
    oracle="""
WITH assigned AS (
  SELECT lang,
         len(string_split(text, ' ')) AS n_tokens,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                        1, 4)) AS INT) % 10 <= 7
                THEN 'train'
              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                        1, 4)) AS INT) % 10 = 8
                THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT lang, split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM assigned GROUP BY lang, split
""",
    doc="Deterministic 3-way train/val/test split (80/10/10 by md5 "
    "bucket of the document key — the q_sample_hash mechanism "
    "extended to the standard ML split): per (language, split) doc "
    "and token accounting. Disjointness and reproducibility are "
    "structural (same key -> same bucket on any engine, any run, "
    "any partitioning); re-running the pipeline can never leak a "
    "test document into train.",
    scale_notes="Zero-shuffle assignment (codegen'd md5 per row) + "
    "one map-combined ledger aggregation. The split column doubles "
    "as a partition key at 100 TB so downstream trainers read only "
    "their split's directories.",
)
def q_sample_split3(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    bucket = (
        md5_prefix_int("doc_id", 4).cast("int")
        % 10
    )
    split = (
        F.when(bucket <= 7, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
    )
    return docs.select(
        "lang",
        split.alias("split"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    ).groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
