"""Aggregation operators (SURVEY.md §2 B.4).

Generalizes the reference's single aggregate — the MAX(date) cursor
discovery pushed into the store (/root/reference/lambda_function.py:78,
operator A8) — to the full Spark aggregation surface: grouped
multi-aggregates, distinct counts, rollup/cube/grouping sets, HAVING,
ordered collect, percentiles.

Scale notes (100 TB): every query here is a hash/sort aggregate with
map-side partial aggregation — one shuffle keyed on the grouping
columns, no driver-side collection.  Low-cardinality groupings
(returnflag x linestatus = 6 groups) reduce to tiny shuffles after
partial agg; AQE coalesces the post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_etl_spark.functions.exact import (
    dec2,
    dec6,
    exact_avg,
    md5_prefix_int,
    money_sum,
)
from weather_etl_spark.io import read_table
from weather_etl_spark.registry import register

_Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(1 - l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST((1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "q_agg_q1",
    oracle=_Q1_ORACLE,
    doc="TPC-H Q1 shape: grouped multi-agg with exact decimal money sums "
    "(generalizes reference A8, lambda_function.py:78).",
    scale_notes="Partial agg map-side -> 6 groups; shuffle is O(groups), "
    "not O(rows). Decimal sums stay within precision 38 (no precision-loss "
    "truncation at any SF).",
)
def q_agg_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_factor = dec6(F.lit(1.0) - F.col("l_discount"))
    # Combined factor computed in double space (deterministic IEEE, same in
    # DuckDB) with a single decimal cast — an intermediate decimal downcast
    # would round differently across engines.
    charge_factor = dec6((F.lit(1.0) - F.col("l_discount")) * (F.lit(1.0) + F.col("l_tax")))
    disc_price = dec2("l_extendedprice") * disc_factor
    charge = dec2("l_extendedprice") * charge_factor
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(dec2("l_quantity"), "sum_qty"),
            money_sum(dec2("l_extendedprice"), "sum_base_price"),
            money_sum(disc_price, "sum_disc_price"),
            money_sum(charge, "sum_charge"),
            exact_avg(dec2("l_quantity"), "avg_qty"),
            exact_avg(dec2("l_extendedprice"), "avg_price"),
            exact_avg(dec6("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q_agg_global_max",
    oracle="""
SELECT epoch_us(MAX(ts)) AS max_ts_us, epoch_us(MIN(ts)) AS min_ts_us,
       COUNT(*) AS n_rows
FROM events
""",
    doc="Global min/max/count — the reference's cursor discovery "
    "(A8: SELECT MAX(date), lambda_function.py:78) as a Spark aggregate.",
    scale_notes="Min/max over parquet are answered largely from footer "
    "statistics; the aggregate reduces map-side to one row per partition.",
)
def q_agg_global_max(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    return ev.agg(
        F.unix_micros(F.max("ts")).alias("max_ts_us"),
        F.unix_micros(F.min("ts")).alias("min_ts_us"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q_agg_count_distinct",
    oracle="""
SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n
FROM orders GROUP BY o_orderstatus
""",
    doc="Exact distinct count per group.",
    scale_notes="Expands to a two-phase partial-distinct aggregate; for "
    "100 TB cardinalities prefer q_agg_approx_cd (HLL) when 2% error is "
    "acceptable.",
)
def q_agg_count_distinct(spark, sf_dir):
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_cust"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q_agg_approx_cd",
    oracle=None,  # HLL sketches are engine-specific (rows-only check)
    doc="Approximate distinct count (HyperLogLog++): the 100 TB-scale "
    "substitute for exact distinct.",
    scale_notes="Fixed-size sketch per partition, mergeable — no distinct "
    "shuffle expansion at any scale.",
)
def q_agg_approx_cd(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_agg_rollup",
    oracle="""
SELECT o_year, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM (SELECT year(o_orderdate) AS o_year, o_orderstatus, o_totalprice
      FROM orders) t
GROUP BY ROLLUP (o_year, o_orderstatus)
""",
    doc="ROLLUP hierarchy totals (year -> status -> grand total).",
    scale_notes="Spark expands rollup into a single Expand+Aggregate — "
    "one shuffle for all grouping levels.",
)
def q_agg_rollup(spark, sf_dir):
    return (
        read_table(spark, sf_dir, "orders")
        .select(
            F.year("o_orderdate").alias("o_year"),
            "o_orderstatus",
            "o_totalprice",
        )
        .rollup("o_year", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec2("o_totalprice")).cast("double").alias("sum_price"),
        )
    )


@register(
    "q_agg_cube",
    oracle="""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    doc="CUBE over two dimensions (all 4 grouping combinations).",
    scale_notes="Same Expand+Aggregate shape as rollup; cube of k columns "
    "multiplies map output by 2^k — keep k small at scale.",
)
def q_agg_cube(spark, sf_dir):
    return (
        read_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec2("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


@register(
    "q_agg_gsets",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
       COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                        (l_returnflag, l_linestatus), ())
""",
    doc="GROUPING SETS with grouping() indicator columns (SQL surface).",
    scale_notes="Single Expand+Aggregate like rollup/cube.",
)
def q_agg_gsets(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls,
               COUNT(*) AS n
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus), ())
        """,
        li=li,
    )


@register(
    "q_agg_having",
    oracle="""
SELECT c_mktsegment,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*), 4) AS avg_bal,
       COUNT(*) AS n
FROM customer
GROUP BY c_mktsegment
HAVING CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
       / COUNT(*) > 4400
""",
    doc="Post-aggregation filter (HAVING) on an exact-decimal average.",
    scale_notes="HAVING is a filter above the aggregate — no extra pass.",
)
def q_agg_having(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer")
    avg_exact = F.sum(dec2("c_acctbal")).cast("double") / F.count(F.lit(1))
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.round(avg_exact, 4).alias("avg_bal"),
            F.count(F.lit(1)).alias("n"),
            avg_exact.alias("_avg_exact"),
        )
        .filter(F.col("_avg_exact") > 4400)
        .drop("_avg_exact")
    )


@register(
    "q_agg_collect",
    oracle="""
SELECT c_nationkey,
       array_to_string((array_agg(c_name ORDER BY c_name))[1:5], '|')
         AS sample_names,
       COUNT(*) AS n
FROM customer GROUP BY c_nationkey
""",
    doc="Deterministic array aggregation: sorted collect_list, first 5 "
    "(unordered collect_list is a known oracle divergence — §7.4; the "
    "output column is stringified so row canonicalizers hash it).",
    scale_notes="collect_list materializes the group in memory — only "
    "safe on bounded groups; at scale cap with slice/top-k first.",
)
def q_agg_collect(spark, sf_dir):
    return (
        read_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.array_join(
                F.slice(F.sort_array(F.collect_list("c_name")), 1, 5), "|"
            ).alias("sample_names"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q_agg_percentile",
    oracle="""
SELECT l_returnflag,
       ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50,
       ROUND(quantile_cont(l_quantity, 0.9), 4) AS p90
FROM lineitem GROUP BY l_returnflag
""",
    doc="Exact interpolated percentiles (the reference API's own agg "
    "vocabulary includes median/p10..p90 — openmeteo_sdk Aggregation.py:8-12).",
    scale_notes="Exact percentile sorts each group; at 100 TB use "
    "percentile_approx (t-digest-style sketch, mergeable).",
)
def q_agg_percentile(spark, sf_dir):
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90"),
        )
    )


@register(
    "q_agg_skew_salted",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
""",
    doc="Skew-resistant two-phase aggregation: the low-cardinality, "
    "skewed grouping key (5 event_types over the whole table) is salted "
    "with pmod(xxhash64(event_id), 32), partially aggregated per "
    "(key, salt), then merged per key. Decimal sums are associative, so "
    "the result is bit-identical to the direct GROUP BY the oracle runs.",
    scale_notes="The first shuffle spreads each hot key over 32 "
    "reducers; the second merges 32 partial rows per key — the manual "
    "equivalent of AQE skew splitting, usable where AQE can't help "
    "(e.g. deterministic partitioning for a downstream co-located "
    "join). Salt fan-out trades a tiny second shuffle for hot-reducer "
    "elimination.",
)
def q_agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(32)))
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("pv"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.sum("pv").cast("double").alias("total_value"),
    )


@register(
    "q_agg_pivot",
    oracle="""
SELECT EXTRACT(year FROM o_orderdate) AS order_year,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
FROM orders GROUP BY EXTRACT(year FROM o_orderdate)
""",
    doc="Pivot: order counts per year spread across one column per "
    "status. Explicit pivot value list, so the plan is a single "
    "two-phase aggregate (no extra distinct-values job).",
    scale_notes="Always pass the pivot value list: without it Spark "
    "runs an extra distinct scan AND the column set becomes "
    "data-dependent — both wrong at 100 TB. With the list this is one "
    "ordinary two-phase aggregation.",
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = read_table(spark, sf_dir, "orders")
    return (
        od.withColumn("order_year", F.year("o_orderdate").cast("long"))
        .groupBy("order_year")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "order_year",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


@register(
    "q_agg_unpivot",
    oracle="""
WITH w AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_price
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS metric_value FROM w
UNION ALL
SELECT l_returnflag, 'sum_price' AS metric, sum_price AS metric_value FROM w
""",
    doc="Unpivot (melt): a wide per-returnflag aggregate folded to "
    "(key, metric, value) long form via DataFrame.unpivot.",
    scale_notes="Unpivot is a zero-shuffle projection (each input row "
    "emits V rows map-side); the cost is the upstream aggregate.",
)
def q_agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


@register(
    "q_agg_stats",
    oracle="""
SELECT l_returnflag,
       ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
       ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
       ROUND(var_samp(l_quantity), 4) AS var_qty
FROM lineitem GROUP BY l_returnflag
""",
    doc="Statistical aggregates per group: Pearson correlation, sample "
    "covariance, sample stddev/variance (rounded to 4 in both engines).",
    scale_notes="All four are single-pass mergeable moment sketches "
    "(sum, sum of squares, co-moments) — partial+final aggregation like "
    "any sum; no extra shuffle over a plain GROUP BY.",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "covar_qty_price"
        ),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
    )


@register(
    "q_time_rollup",
    oracle="""
WITH b AS (
  SELECT epoch_us(date_trunc('hour',  ts)) AS hour_us,
         epoch_us(date_trunc('day',   ts)) AS day_us,
         epoch_us(date_trunc('month', ts)) AS month_us,
         value
  FROM events
)
SELECT CASE WHEN GROUPING(hour_us) = 0 THEN 'hour'
            WHEN GROUPING(day_us)  = 0 THEN 'day'
            ELSE 'month' END AS grain,
       COALESCE(hour_us, day_us, month_us) AS bucket_us,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM b
GROUP BY GROUPING SETS ((hour_us), (day_us), (month_us))
""",
    doc="Hypertable-style time rollup: ONE pass over events aggregates "
    "simultaneously at hour, day, and month granularity via GROUPING "
    "SETS on the truncated-timestamp buckets — the batch form of a "
    "continuous aggregate / materialized rollup hierarchy.",
    scale_notes="Grouping sets expand rows 3x BEFORE the shuffle but "
    "partial-aggregate map-side, so the exchange carries one partial "
    "row per (grain, bucket) per task — bounded by the time-bucket "
    "count, not the event count. At 100 TB: persist the hour grain "
    "partitioned by day and derive day/month from it incrementally "
    "(foreachBatch upsert), exactly like a hypertable's cagg chain.",
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    b = ev.select(
        F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_us"),
        F.unix_micros(F.date_trunc("day", "ts")).alias("day_us"),
        F.unix_micros(F.date_trunc("month", "ts")).alias("month_us"),
        "value",
    )
    return (
        b.groupingSets(
            [["hour_us"], ["day_us"], ["month_us"]],
            "hour_us", "day_us", "month_us",
        )
        .agg(
            F.grouping("hour_us").alias("_g_h"),
            F.grouping("day_us").alias("_g_d"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.when(F.col("_g_h") == 0, "hour")
            .when(F.col("_g_d") == 0, "day")
            .otherwise("month")
            .alias("grain"),
            F.coalesce("hour_us", "day_us", "month_us").alias("bucket_us"),
            "n",
            "sum_value",
        )
    )


@register(
    "q_agg_minmax_by",
    oracle="""
SELECT o_orderstatus,
       arg_max(o_orderkey,
               CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS HUGEINT)
               * 18446744073709551616 + o_orderkey) AS top_order,
       arg_min(o_orderkey,
               CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS HUGEINT)
               * 18446744073709551616 + o_orderkey) AS bottom_order,
       ROUND(MAX(o_totalprice), 4) AS max_price,
       COUNT(*) AS n
FROM orders
GROUP BY o_orderstatus
""",
    doc="max_by / min_by (argmax aggregation): which order carries the "
    "extreme price per status, tie-broken by orderkey so the argmax is "
    "never engine-dependent. Spark orders by struct(cents, orderkey) "
    "(structs are natively orderable, no collision at ANY scale); "
    "DuckDB arg_max cannot take a struct key, so the oracle encodes the "
    "same total order as an int128 HUGEINT cents*2**64 + orderkey — "
    "identical ordering for any 0 <= orderkey < 2**64, i.e. unbounded "
    "in SF (the previous bigint cents*1e7+key encoding collided once "
    "orderkey reached 10M, ~SF1.6).",
    scale_notes="Single two-phase aggregate: partials carry one "
    "(key, value) pair per group per mapper — same shuffle shape as "
    "MAX, no window/sort. The struct comparison stays inside codegen.",
)
def q_agg_minmax_by(spark, sf_dir):
    od = read_table(spark, sf_dir, "orders")
    by = F.struct(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("o_orderkey").alias("key"),
    )
    return od.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", by).alias("top_order"),
        F.min_by("o_orderkey", by).alias("bottom_order"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_time_gapfill",
    oracle="""
WITH ev AS (
  SELECT user_id, date_trunc('hour', ts) AS hr,
         CASE WHEN isnan(value) THEN NULL ELSE value END AS v
  FROM events WHERE user_id <= 20
), agg AS (
  SELECT user_id, hr, ROUND(AVG(v), 4) AS hv
  FROM ev GROUP BY user_id, hr
), bounds AS (
  SELECT user_id, MIN(hr) AS lo, MAX(hr) AS hi FROM agg GROUP BY user_id
), axis AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
  FROM bounds
), j AS (
  SELECT axis.user_id, axis.hr, agg.hv
  FROM axis LEFT JOIN agg
    ON agg.user_id = axis.user_id AND agg.hr = axis.hr
)
SELECT user_id, epoch_us(hr) AS hr_us,
       ROUND(COALESCE(hv, last_value(hv IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY hr
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), 4) AS v_filled,
       hv IS NULL AS was_gap
FROM j
""",
    doc="Time-series gap fill: per-user hourly average, a dense hourly "
    "axis spanning each user's [first, last] observed hour (A3's "
    "time-axis generation per group), LEFT JOIN, and forward fill of "
    "missing hours with the last observed value (last_value IGNORE "
    "NULLS over the preceding frame) — the canonical sensor/weather "
    "regularization the reference's hourly fetch assumes upstream.",
    scale_notes="Axis explosion is per-group sequence() — no driver "
    "loop. Executed plan (verified local): TWO hash exchanges total — "
    "(user_id, hr) for the hourly aggregate and user_id for the "
    "bounds+fill window (reused) — with the axis side broadcast into "
    "the join. Frame is running (bounded state); years-long gaps "
    "inflate the axis — cap the span or bucket coarser when sensors "
    "go dark for months.",
)
def q_time_gapfill(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 20)
        .select(
            "user_id",
            F.date_trunc("hour", "ts").alias("hr"),
            F.when(F.isnan("value"), None).otherwise(F.col("value")).alias("v"),
        )
    )
    agg = ev.groupBy("user_id", "hr").agg(F.round(F.avg("v"), 4).alias("hv"))
    axis = (
        agg.groupBy("user_id")
        .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.expr("sequence(lo, hi, interval 1 hour)")
            ).alias("hr"),
        )
    )
    j = axis.join(agg, ["user_id", "hr"], "left")
    fill = Window.partitionBy("user_id").orderBy("hr").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return j.select(
        "user_id",
        F.unix_micros("hr").alias("hr_us"),
        F.round(
            F.coalesce(F.col("hv"), F.last("hv", ignorenulls=True).over(fill)),
            4,
        ).alias("v_filled"),
        F.col("hv").isNull().alias("was_gap"),
    )


@register(
    "q_agg_boolean",
    oracle="""
SELECT user_id,
       CAST(count_if(event_type = 'click') AS BIGINT) AS n_clicks,
       bool_and(value >= 0 OR isnan(value))           AS all_nonneg,
       bool_or(event_type = 'purchase')               AS ever_bought,
       COUNT(*) AS n
FROM events
WHERE user_id <= 200
GROUP BY user_id
""",
    doc="Boolean aggregate surface: count_if / bool_and (EVERY) / "
    "bool_or (ANY) per user — the predicate-summary shapes feature "
    "pipelines emit (did-ever, always-holds, how-often).",
    scale_notes="Each boolean aggregate partial-reduces to one "
    "bit/long per group map-side — cheapest possible shuffle payload.",
)
def q_agg_boolean(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") <= 200)
    return ev.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "click").alias("n_clicks"),
        F.bool_and(
            (F.col("value") >= 0) | F.isnan("value")
        ).alias("all_nonneg"),
        F.bool_or(F.col("event_type") == "purchase").alias("ever_bought"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_agg_median",
    oracle="""
SELECT event_type,
       ROUND(median(CASE WHEN isnan(value) THEN NULL
                         ELSE CAST(value AS DOUBLE) END), 4) AS med_value,
       COUNT(*) AS n
FROM events
GROUP BY event_type
""",
    doc="Exact grouped median (even-count groups interpolate the two "
    "middle values in both engines once the input is DOUBLE — DuckDB "
    "returns the lower-middle for non-float types, so the cast is "
    "part of the contract). NaN normalized to NULL first (A10); both "
    "engines then ignore NULLs.",
    scale_notes="Exact median requires a per-group sort (Spark: "
    "percentile(0.5) sort-based aggregate). At 100 TB use "
    "approx_percentile's fixed-size sketch; the exact row is the "
    "verification baseline.",
)
def q_agg_median(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    v = F.when(F.isnan("value"), None).otherwise(
        F.col("value").cast("double")
    )
    return ev.groupBy("event_type").agg(
        F.round(F.median(v), 4).alias("med_value"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_agg_mode",
    oracle="""
WITH c AS (
  SELECT o_orderstatus AS st, o_orderpriority AS pri, COUNT(*) AS n
  FROM orders GROUP BY st, pri
), r AS (
  SELECT st, pri, n,
         ROW_NUMBER() OVER (PARTITION BY st ORDER BY n DESC, pri) AS rn
  FROM c
)
SELECT st AS o_orderstatus, pri AS mode_priority, n AS n_occurrences
FROM r WHERE rn = 1
""",
    doc="Deterministic MODE aggregate: the most frequent order priority "
    "per status, tie-broken lexicographically — built as count-then-"
    "rank rather than the engines' native mode() (whose tie choice is "
    "engine-dependent and would never hash-match across engines).",
    scale_notes="Two-level aggregate: the (status, priority) count "
    "partial-aggregates map-side and shuffles only distinct pairs; the "
    "rank window then runs over a group-count-sized frame (tiny), not "
    "the fact table.",
)
def q_agg_mode(spark, sf_dir):
    from pyspark.sql import Window

    od = read_table(spark, sf_dir, "orders")
    c = od.groupBy(
        F.col("o_orderstatus").alias("st"), F.col("o_orderpriority").alias("pri")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("st").orderBy(F.col("n").desc(), F.col("pri"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("st").alias("o_orderstatus"),
            F.col("pri").alias("mode_priority"),
            F.col("n").alias("n_occurrences"),
        )
    )


@register(
    "q_time_interp",
    oracle="""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value, event_id FROM events
), b AS (
  SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events
), days AS (
  SELECT epoch_us(CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
                       AS TIMESTAMP)) AS g_us
  FROM b
), grid AS (
  SELECT u.user_id, d.g_us AS ts_us
  FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN days d
), un AS (
  SELECT user_id, ts_us, 0 AS is_grid, value, event_id FROM ev
  UNION ALL
  SELECT user_id, ts_us, 1, NULL, -1 FROM grid
), f AS (
  SELECT user_id, ts_us, is_grid,
    last_value(value IGNORE NULLS) OVER w_back AS prev_v,
    last_value(CASE WHEN is_grid = 0 THEN ts_us END IGNORE NULLS)
      OVER w_back AS prev_t,
    first_value(value IGNORE NULLS) OVER w_fwd AS next_v,
    first_value(CASE WHEN is_grid = 0 THEN ts_us END IGNORE NULLS)
      OVER w_fwd AS next_t
  FROM un
  WINDOW
   w_back AS (PARTITION BY user_id ORDER BY ts_us, is_grid, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
   w_fwd AS (PARTITION BY user_id ORDER BY ts_us, is_grid, event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, ts_us AS grid_us,
       ROUND(prev_v + (next_v - prev_v)
             * (CAST(ts_us - prev_t AS DOUBLE) / (next_t - prev_t)),
             4) AS v_interp
FROM f
WHERE is_grid = 1 AND prev_v IS NOT NULL AND next_v IS NOT NULL
""",
    doc="Linear-interpolation resample (the hypertable "
    "time_bucket_gapfill/interpolate shape): each user's value series "
    "is sampled at daily-midnight grid points, linearly interpolated "
    "between the nearest surrounding events via the union-and-two-"
    "window as-of technique (events and grid points merged into one "
    "ordered stream; backward last-ignore-nulls carries the previous "
    "event, forward first-ignore-nulls the next). Grid points outside "
    "a user's event span are dropped (no extrapolation). A grid point "
    "coinciding with an event returns exactly that event's value.",
    scale_notes="No join: the as-of pairing is two frames over ONE "
    "user_id-partitioned sort, so the whole operator costs a single "
    "shuffle of events + a metadata-sized grid (users x days, "
    "broadcast-built from a 1-row bounds aggregate). The standard "
    "scalable alternative to a range join against the grid.",
)
def q_time_interp(spark, sf_dir):
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "value", "event_id"
    )
    bounds = ev.agg(F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi"))
    days = bounds.select(
        F.explode(
            F.sequence(
                F.to_date(F.timestamp_micros("lo")),
                F.to_date(F.timestamp_micros("hi")),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    ).select(F.unix_micros(F.col("day").cast("timestamp")).alias("g_us"))
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(days)).select(
        "user_id",
        F.col("g_us").alias("ts_us"),
        F.lit(1).alias("is_grid"),
        F.lit(None).cast("double").alias("value"),
        F.lit(-1).cast("bigint").alias("event_id"),
    )
    un = ev.select(
        "user_id", "ts_us", F.lit(0).alias("is_grid"), "value", "event_id"
    ).unionByName(grid)
    order = [F.col("ts_us"), F.col("is_grid"), F.col("event_id")]
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    ev_ts = F.when(F.col("is_grid") == 0, F.col("ts_us"))
    f = un.select(
        "user_id",
        "ts_us",
        "is_grid",
        F.last("value", ignorenulls=True).over(w_back).alias("prev_v"),
        F.last(ev_ts, ignorenulls=True).over(w_back).alias("prev_t"),
        F.first("value", ignorenulls=True).over(w_fwd).alias("next_v"),
        F.first(ev_ts, ignorenulls=True).over(w_fwd).alias("next_t"),
    )
    frac = (F.col("ts_us") - F.col("prev_t")).cast("double") / (
        F.col("next_t") - F.col("prev_t")
    )
    return (
        f.filter(
            (F.col("is_grid") == 1)
            & F.col("prev_v").isNotNull()
            & F.col("next_v").isNotNull()
        )
        .select(
            "user_id",
            F.col("ts_us").alias("grid_us"),
            F.round(
                F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac, 4
            ).alias("v_interp"),
        )
    )


@register(
    "q_agg_regr",
    oracle="""
SELECT event_type,
       ROUND(regr_slope(value, epoch_us(ts) / 86400e6), 6) AS slope_per_day,
       ROUND(regr_intercept(value, epoch_us(ts) / 86400e6), 4) AS intercept,
       ROUND(regr_r2(value, epoch_us(ts) / 86400e6), 6) AS r2,
       regr_count(value, value) AS n
FROM events
GROUP BY event_type
""",
    doc="Linear-regression aggregates per group: slope / intercept / "
    "R-squared of value against time (in days) for each event type — "
    "the one-pass trend detector (is this metric drifting?) that "
    "replaces a window + fit loop. Both engines implement the same "
    "closed-form co-moment formulas, so the rounded outputs hash-match "
    "exactly.",
    scale_notes="regr_* are single-pass mergeable moment sketches "
    "(n, Σx, Σy, Σxx, Σxy) — partial+final aggregation, shuffle of "
    "O(groups) like any SUM. The time axis is rescaled to days BEFORE "
    "aggregation so Σxx stays far from double overflow at any SF.",
)
def q_agg_regr(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    x = F.unix_micros("ts") / F.lit(86400e6)
    return ev.groupBy("event_type").agg(
        F.round(F.regr_slope(F.col("value"), x), 6).alias("slope_per_day"),
        F.round(F.regr_intercept(F.col("value"), x), 4).alias("intercept"),
        F.round(F.regr_r2(F.col("value"), x), 6).alias("r2"),
        F.regr_count(F.col("value"), F.col("value")).alias("n"),
    )


@register(
    "q_agg_hll_portable",
    oracle="""
WITH h AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS INT)
           AS bucket,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 2, 12)) AS BIGINT)
           AS w
  FROM events
), r AS (
  SELECT event_type, bucket,
         MAX(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS m_j
  FROM h GROUP BY event_type, bucket
)
SELECT event_type,
       COUNT(*) AS n_regs,
       CAST(SUM(bucket * 64 + m_j) AS BIGINT) AS reg_checksum,
       ROUND(0.673 * 256 / SUM(POWER(2.0, -m_j)), 4) AS hll_est
FROM r GROUP BY event_type
""",
    doc="PORTABLE HyperLogLog, exact-oracled end-to-end (the sketch "
    "itself is hash-verified, like llm_minhash_banded did for LSH): "
    "md5-derived 52-bit hashes split into 16 buckets x 48-bit tails, "
    "register = max leading-zero rank per bucket (computed EXACTLY via "
    "length(bin(w)) — integer ops, no float log), estimate = biased "
    "HLL harmonic mean alpha16*m^2/sum(2^-M). Every intermediate is "
    "engine-identical: md5 is md5, bin() lengths are integers, and "
    "the harmonic sum adds <= 16 exact dyadic rationals, which is "
    "order-independent in IEEE double. Complements q_agg_approx_cd "
    "(Spark's native HLL++, rows-only) with a fully verifiable "
    "estimator.",
    scale_notes="Identical shuffle shape to any grouped agg: the "
    "register table is (groups x 16) rows after map-side partial MAX "
    "— mergeable sketches, one shuffle, fixed size regardless of "
    "cardinality. m=16 keeps the oracle compact; production m=2^12 "
    "changes constants, not structure.",
)
def q_agg_hll_portable(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string"))
    bucket = F.conv(F.substring(h, 1, 1), 16, 10).cast("int")
    w = F.conv(F.substring(h, 2, 12), 16, 10).cast("bigint")
    rho = F.when(w == 0, 49).otherwise(49 - F.length(F.bin(w)))
    regs = (
        ev.select("event_type", bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    return regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.sum(F.col("bucket") * 64 + F.col("m_j"))
        .cast("bigint")
        .alias("reg_checksum"),
        F.round(
            F.lit(0.673 * 256) / F.sum(F.pow(F.lit(2.0), -F.col("m_j"))), 4
        ).alias("hll_est"),
    )


@register(
    "q_agg_kmv_portable",
    oracle="""
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT)
           AS hv
  FROM events
), r AS (
  SELECT event_type, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
)
SELECT event_type,
       MAX(hv) AS kth_min,
       ROUND(7 * 4503599627370496.0 / MAX(hv), 4) AS kmv_est
FROM r WHERE rn <= 8
GROUP BY event_type
""",
    doc="PORTABLE K-minimum-values distinct sketch (k=8), exact-oracled "
    "like q_agg_hll_portable but from the order-statistics family: the "
    "k smallest 52-bit md5 hash values per group estimate cardinality "
    "as (k-1)/F(k-th min) with F the hash normalized into [0,1] (the "
    "published KMV/bottom-k estimator). Everything up to the final "
    "division is integer-exact, so the sketch state (the k-th minimum "
    "itself) hash-verifies across engines.",
    scale_notes="Bottom-k is mergeable: partial per-partition bottom-8 "
    "(WindowGroupLimit rank pushdown prunes below rank 8 before the "
    "shuffle), merge = bottom-8 of the union. Sketch size is k hashes "
    "per group at any cardinality; unlike HLL it also supports set "
    "intersection estimates by hash-set overlap.",
)
def q_agg_kmv_portable(spark, sf_dir):
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    hv = md5_prefix_int("user_id", 13)
    h = ev.select("event_type", hv.alias("hv")).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .groupBy("event_type")
        .agg(
            F.max("hv").alias("kth_min"),
            F.round(F.lit(7 * 4503599627370496.0) / F.max("hv"), 4).alias(
                "kmv_est"
            ),
        )
    )


@register(
    "q_agg_listagg",
    oracle="""
WITH d AS (
  SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
)
SELECT o_orderstatus,
       string_agg(o_orderpriority, ',' ORDER BY o_orderpriority)
         AS priorities,
       COUNT(*) AS n_priorities
FROM d GROUP BY o_orderstatus
""",
    doc="Ordered string aggregation (SQL:2023 LISTAGG ... WITHIN "
    "GROUP, Spark 4's listagg): the distinct priorities seen per "
    "order status, comma-joined in sorted order — deterministic "
    "because the ORDER BY inside the aggregate is total. Oracle uses "
    "DuckDB's equivalent string_agg(... ORDER BY).",
    scale_notes="DISTINCT first shrinks the aggregation input to the "
    "(status, priority) key space — the listagg itself then "
    "concatenates a bounded set per group. Never listagg an unbounded "
    "fact column; the distinct pre-step is the scale contract.",
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "wes_listagg_orders"
    )
    return spark.sql(
        """
WITH d AS (
  SELECT DISTINCT o_orderstatus, o_orderpriority FROM wes_listagg_orders
)
SELECT o_orderstatus,
       listagg(o_orderpriority, ',')
         WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
       COUNT(*) AS n_priorities
FROM d GROUP BY o_orderstatus
"""
    )


@register(
    "q_agg_filter_clause",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_all,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
       CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                     FILTER (WHERE l_discount > 0.05), 0) AS DOUBLE)
         AS qty_disc,
       COUNT(*) FILTER (WHERE l_quantity < 10) AS n_small
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Conditional aggregation via the SQL FILTER clause (one pass, "
    "no self-joins): per return flag, total rows, discounted rows, "
    "discounted quantity (DECIMAL-exact), and small-quantity rows — "
    "the idiom that replaces N filtered subqueries with one scan.",
    scale_notes="All four aggregates evaluate in the SAME partial-agg "
    "pass — one scan, one shuffle of (flag, partials), however many "
    "FILTER conditions are added. The naive multi-subquery form scans "
    "the fact table once per condition.",
)
def q_agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "wes_filter_lineitem"
    )
    return spark.sql(
        """
SELECT l_returnflag,
       COUNT(*) AS n_all,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
       CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                     FILTER (WHERE l_discount > 0.05), 0) AS DOUBLE)
         AS qty_disc,
       COUNT(*) FILTER (WHERE l_quantity < 10) AS n_small
FROM wes_filter_lineitem
GROUP BY l_returnflag
"""
    )


@register(
    "q_agg_grouping_id",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
       COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
    doc="GROUPING() provenance flags over grouping sets: each output "
    "row carries which columns were aggregated-away (the NULL-vs-"
    "grouped disambiguation q_agg_rollup's consumers need when a real "
    "NULL key exists). Completes the grouping-sets family with the "
    "introspection function.",
    scale_notes="Same single-Expand single-shuffle plan as "
    "q_agg_gsets; GROUPING() reads the expand-generated bitmask, "
    "adding zero cost.",
)
def q_agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "wes_gid_orders"
    )
    return spark.sql(
        """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
       COUNT(*) AS n
FROM wes_gid_orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""
    )


@register(
    "q_agg_cms_portable",
    oracle="""
WITH depths AS (SELECT unnest([0, 1, 2, 3]) AS d),
state AS (
  SELECT d,
         CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || ':' ||
                                  CAST(l_partkey AS VARCHAR)), 1, 8))
              AS BIGINT) % 32 AS bucket,
         COUNT(*) AS c
  FROM lineitem CROSS JOIN depths
  GROUP BY 1, 2
),
chk AS (
  SELECT CAST(SUM(c * (d * 32 + bucket + 1)) AS BIGINT) AS state_checksum
  FROM state
),
base AS (
  SELECT l_partkey, COUNT(*) AS true_cnt FROM lineitem GROUP BY l_partkey
),
top5 AS (
  SELECT l_partkey, true_cnt FROM base
  ORDER BY true_cnt DESC, l_partkey LIMIT 5
),
pb AS (
  SELECT t.l_partkey, t.true_cnt, dd.d,
         CAST(('0x' || substr(md5(CAST(dd.d AS VARCHAR) || ':' ||
                                  CAST(t.l_partkey AS VARCHAR)), 1, 8))
              AS BIGINT) % 32 AS bucket
  FROM top5 t CROSS JOIN depths dd
)
SELECT pb.l_partkey AS p_partkey,
       pb.true_cnt AS true_cnt,
       MIN(s.c) AS cms_est,
       MAX(chk.state_checksum) AS state_checksum
FROM pb
JOIN state s ON s.d = pb.d AND s.bucket = pb.bucket
CROSS JOIN chk
GROUP BY pb.l_partkey, pb.true_cnt
""",
    doc="PORTABLE count-min sketch (depth 4 x width 32), exact-oracled "
    "end-to-end like q_agg_hll_portable: four md5-seeded hash rows "
    "count l_partkey occurrences into 32 buckets each; a key's "
    "frequency estimate is the MIN of its four counters (the published "
    "CM guarantee: est >= truth, overestimate bounded by collisions). "
    "Output = the five true heaviest keys with true count, CM "
    "estimate, and a weighted checksum over all 128 counters so the "
    "ENTIRE sketch state hash-verifies, not just the probed cells.",
    scale_notes="The sketch is a mergeable two-phase aggregate: "
    "map-side partial counts into (depth, bucket) cells, one shuffle "
    "of at most depth*width rows per partition regardless of key "
    "cardinality — the same bounded-state shape as the HLL/KMV "
    "sketches. Probing joins a 20-row probe table against the 128-row "
    "state: both bounded by construction.",
)
def q_agg_cms_portable(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    depths = spark.range(4).select(F.col("id").cast("int").alias("d"))

    def cms_bucket(d_col, key_col):
        seeded = F.concat(
            d_col.cast("string"), F.lit(":"), key_col.cast("string")
        )
        return md5_prefix_int(seeded, 8) % 32

    base = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("true_cnt"))
    # Counters count ROWS, so aggregating per-key counts first and
    # summing them into (d, bucket) cells yields the identical sketch
    # while hashing each DISTINCT key once per depth instead of every
    # row — keys/rows x fewer md5 evaluations (measured 9.1 -> ~1 s at
    # sf0.1).  The oracle keeps the row-wise formulation, proving the
    # two-level rollup exact.
    state = (
        base.crossJoin(F.broadcast(depths))
        .groupBy(
            "d", cms_bucket(F.col("d"), F.col("l_partkey")).alias("bucket")
        )
        .agg(F.sum("true_cnt").cast("bigint").alias("c"))
    )
    chk = state.agg(
        F.sum(
            F.col("c") * (F.col("d") * 32 + F.col("bucket") + 1)
        )
        .cast("bigint")
        .alias("state_checksum")
    )
    top5 = base.orderBy(
        F.col("true_cnt").desc(), F.col("l_partkey").asc()
    ).limit(5)
    pb = top5.crossJoin(F.broadcast(depths)).withColumn(
        "bucket", cms_bucket(F.col("d"), F.col("l_partkey"))
    )
    return (
        pb.join(state, ["d", "bucket"])
        .crossJoin(F.broadcast(chk))
        .groupBy(
            F.col("l_partkey").alias("p_partkey"),
            "true_cnt",
        )
        .agg(
            F.min("c").alias("cms_est"),
            F.max("state_checksum").alias("state_checksum"),
        )
    )


@register(
    "q_agg_bitmap_portable",
    oracle="""
WITH words AS (
  SELECT event_type, user_id // 32 AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS word
  FROM events GROUP BY event_type, user_id // 32
)
SELECT event_type,
       COUNT(*) AS n_words,
       CAST(SUM(bit_count(word)) AS BIGINT) AS exact_distinct,
       CAST(SUM(word_idx * 131 + word) AS BIGINT) AS word_checksum
FROM words GROUP BY event_type
""",
    doc="PORTABLE bitmap-index distinct count (the roaring-bitmap "
    "pattern every OLAP engine uses for COUNT(DISTINCT intkey)): "
    "user ids pack into 32-bit words (word = id/32, bit = id%32) "
    "OR-ed per group; popcount over the words is the EXACT distinct "
    "count — a sketch that is simultaneously exact, unlike HLL/KMV. "
    "Word state and a weighted checksum hash-verify the whole bitmap "
    "across engines.",
    scale_notes="bit_or is a mergeable two-phase aggregate: map-side "
    "partial OR, one shuffle carrying (group, word_idx, 8-byte word) "
    "— size bounded by keyspace/32 words per group, independent of "
    "row count (the reason bitmap indexes beat exact sets for dense "
    "integer keys). Sparse keyspaces at 100 TB use the same plan; "
    "roaring's run/array containers are a per-word encoding detail, "
    "not a plan change.",
)
def q_agg_bitmap_portable(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    words = (
        ev.select(
            "event_type",
            (F.col("user_id") / 32).cast("bigint").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT),"
                " CAST(user_id % 32 AS INT))"
            ).alias("m"),
        )
        .groupBy("event_type", "word_idx")
        .agg(F.expr("bit_or(m)").alias("word"))
    )
    return words.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.bit_count("word")).cast("bigint").alias("exact_distinct"),
        F.sum(F.col("word_idx") * 131 + F.col("word"))
        .cast("bigint")
        .alias("word_checksum"),
    )


@register(
    "q_agg_hist_quantile",
    oracle="""
WITH b AS (
  SELECT LEAST(CAST(FLOOR(l_extendedprice / 2000) AS BIGINT), 63) AS bin,
         COUNT(*) AS c
  FROM lineitem GROUP BY 1
), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM b),
cum AS (
  SELECT bin, CAST(SUM(c) OVER (ORDER BY bin) AS BIGINT) AS cum FROM b
),
qs AS (SELECT unnest([50, 90, 99]) AS q)
SELECT qs.q AS q,
       MIN(cum.bin) AS qbin,
       MIN(cum.bin) * 2000 AS q_lower_edge
FROM qs JOIN cum ON cum.cum * 100 >= qs.q * (SELECT n FROM tot)
GROUP BY qs.q
""",
    doc="PORTABLE fixed-bin histogram quantiles (the t-digest-lite "
    "every metrics pipeline ships): prices bucket into 64 fixed "
    "2000-wide bins, the p50/p90/p99 estimate is the lower edge of "
    "the first bin whose cumulative count reaches q% of rows — the "
    "crossing test cum*100 >= q*n is all-integer, so the sketch and "
    "its readout hash-verify across engines. Fixed (data-independent) "
    "bin edges are what make the sketch mergeable AND portable; "
    "adaptive-edge digests trade that for accuracy.",
    scale_notes="A mergeable bounded aggregate: one shuffle carrying "
    "at most 64 (bin, partial-count) rows per partition; the "
    "cumulative window runs over 64 rows on one task — constant "
    "however large the input. This is the 100 TB shape for "
    "percentile dashboards (approx_percentile's internal sketch has "
    "the same geometry, here made explicit and verifiable).",
)
def q_agg_hist_quantile(spark, sf_dir):
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    b = (
        li.select(
            F.least(
                F.floor(F.col("l_extendedprice") / 2000).cast("bigint"),
                F.lit(63).cast("bigint"),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = b.agg(F.sum("c").cast("bigint").alias("n"))
    cum = b.withColumn(
        "cum", F.sum("c").over(Window.orderBy("bin")).cast("bigint")
    )
    qs = spark.range(3).select(
        F.array(*map(F.lit, (50, 90, 99)))[F.col("id")].alias("q")
    )
    return (
        qs.crossJoin(cum)
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cum") * 100 >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(
            F.min("bin").alias("qbin"),
            (F.min("bin") * 2000).alias("q_lower_edge"),
        )
    )


@register(
    "q_agg_kmv_intersect",
    oracle="""
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
              AS BIGINT) AS hv
  FROM events WHERE event_type IN ('view', 'purchase')
), rk AS (
  SELECT event_type, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
), bk AS (
  SELECT event_type, hv FROM rk WHERE rn <= 8
), urk AS (
  SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn
  FROM (SELECT DISTINCT hv FROM bk)
), kk AS (
  SELECT hv FROM urk WHERE rn <= 8
), kth AS (SELECT MAX(hv) AS m FROM kk),
ov AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c FROM kk
  WHERE hv IN (SELECT hv FROM bk WHERE event_type = 'view')
    AND hv IN (SELECT hv FROM bk WHERE event_type = 'purchase')
)
SELECT kth.m AS kth_min_union,
       ov.c AS n_overlap,
       ROUND(7 * 4503599627370496.0 / kth.m, 4) AS union_est,
       ROUND((CAST(ov.c AS DOUBLE) / 8)
             * (7 * 4503599627370496.0 / kth.m), 4) AS inter_est
FROM kth CROSS JOIN ov
""",
    doc="KMV sketch INTERSECTION estimate (the set operation HLL "
    "cannot do, and why bottom-k sketches exist): bottom-8 hash sets "
    "for 'view' and 'purchase' users merge into the union's bottom-8; "
    "Jaccard = |union-bottom-k present in BOTH input sketches| / k, "
    "and the intersection estimate is Jaccard x the union's KMV "
    "cardinality estimate. Sketch state (union k-th min, overlap "
    "count) is integer-exact; only the final published-estimator "
    "division is floating, rounded once (the q_agg_kmv_portable "
    "discipline).",
    scale_notes="Everything flows through bottom-k order statistics: "
    "per-partition bottom-8 via WindowGroupLimit rank pushdown, merge "
    "= bottom-8 of the union of two 8-row sets. Sketch sizes are "
    "constant at any cardinality, and the estimator extends to "
    "n-way intersections by the same Jaccard composition.",
)
def q_agg_kmv_intersect(spark, sf_dir):
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    hv = md5_prefix_int("user_id", 13)
    h = ev.select("event_type", hv.alias("hv")).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    bk = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .select("event_type", "hv")
    )
    un = bk.select("hv").distinct()
    kk = (
        un.withColumn("rn", F.row_number().over(Window.orderBy("hv")))
        .filter(F.col("rn") <= 8)
        .select("hv")
    )
    kth = kk.agg(F.max("hv").alias("m"))
    views = bk.filter(F.col("event_type") == "view").select("hv")
    purch = bk.filter(F.col("event_type") == "purchase").select("hv")
    ov = (
        kk.join(views, "hv", "left_semi")
        .join(purch, "hv", "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    est = F.lit(7 * 4503599627370496.0) / F.col("m")
    return kth.crossJoin(ov).select(
        F.col("m").alias("kth_min_union"),
        F.col("c").alias("n_overlap"),
        F.round(est, 4).alias("union_est"),
        F.round((F.col("c").cast("double") / 8) * est, 4).alias(
            "inter_est"
        ),
    )


@register(
    "q_agg_hll_rollup",
    oracle="""
WITH h AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS INT)
           AS bucket,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 2, 12)) AS BIGINT)
           AS w
  FROM events
), day_regs AS (
  SELECT event_type, day, bucket,
         MAX(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS m_j
  FROM h GROUP BY event_type, day, bucket
), day_est AS (
  SELECT event_type, day,
         ROUND(0.673 * 256 / SUM(POWER(2.0, -m_j)), 4) AS est
  FROM day_regs GROUP BY event_type, day
), merged AS (
  SELECT event_type, bucket, MAX(m_j) AS m_j
  FROM day_regs GROUP BY event_type, bucket
)
SELECT m.event_type,
       d.n_days,
       ROUND(CAST(d.sum_day_est AS DOUBLE), 4) AS sum_day_est,
       ROUND(0.673 * 256 / SUM(POWER(2.0, -m.m_j)), 4) AS merged_est
FROM merged m
JOIN (SELECT event_type, COUNT(*) AS n_days,
             SUM(CAST(est AS DECIMAL(18,4))) AS sum_day_est
      FROM day_est GROUP BY event_type) d USING (event_type)
GROUP BY m.event_type, d.n_days, d.sum_day_est
""",
    doc="HLL sketch ROLLUP (incremental sketch maintenance): per-day "
    "register tables are built once, then the per-type cardinality "
    "comes from merging the persisted DAY sketches register-wise "
    "(MAX per bucket) — the raw rows are never rescanned for the "
    "coarser level. Output contrasts sum-of-day-estimates (wrong: "
    "double-counts users active on many days) with the merged "
    "estimate (right: sketch union is lossless for distinct "
    "counting) — the property that makes sketches the standard "
    "incremental-pipeline state (A8's cursor discipline applied to "
    "cardinality state). Same exact-arithmetic HLL as "
    "q_agg_hll_portable.",
    scale_notes="The day level is (types x days x 16) rows; the "
    "rollup re-aggregates THAT ledger, never the events — exactly "
    "how a production pipeline stores per-partition sketches and "
    "folds them into weekly/monthly/global counts in milliseconds. "
    "Register merge is associative and commutative, so any rollup "
    "tree shape gives identical results.",
)
def q_agg_hll_rollup(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string"))
    bucket = F.conv(F.substring(h, 1, 1), 16, 10).cast("int")
    w = F.conv(F.substring(h, 2, 12), 16, 10).cast("bigint")
    rho = F.when(w == 0, 49).otherwise(49 - F.length(F.bin(w)))
    day_regs = (
        ev.select(
            "event_type",
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
            bucket.alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("event_type", "day", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    day_est = day_regs.groupBy("event_type", "day").agg(
        F.round(
            F.lit(0.673 * 256) / F.sum(F.pow(F.lit(2.0), -F.col("m_j"))),
            4,
        ).alias("est")
    )
    d = day_est.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("est").cast("decimal(18,4)")).alias("sum_day_est"),
    )
    merged = day_regs.groupBy("event_type", "bucket").agg(
        F.max("m_j").alias("m_j")
    )
    return (
        merged.join(d, "event_type")
        .groupBy("event_type", "n_days", "sum_day_est")
        .agg(
            F.round(
                F.lit(0.673 * 256)
                / F.sum(F.pow(F.lit(2.0), -F.col("m_j"))),
                4,
            ).alias("merged_est")
        )
        .select(
            "event_type",
            "n_days",
            F.round(F.col("sum_day_est").cast("double"), 4).alias(
                "sum_day_est"
            ),
            "merged_est",
        )
    )


@register(
    "q_agg_quantile_eval",
    oracle="""
WITH cents AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
), b AS (
  SELECT LEAST(CAST(FLOOR(c / 200000) AS BIGINT), 63) AS bin,
         COUNT(*) AS cnt
  FROM cents GROUP BY 1
), tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM b),
cum AS (
  SELECT bin, CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum FROM b
), qs AS (SELECT unnest([50, 90, 99]) AS q),
est AS (
  SELECT qs.q AS q, MIN(cum.bin) AS qbin
  FROM qs JOIN cum ON cum.cum * 100 >= qs.q * (SELECT n FROM tot)
  GROUP BY qs.q
), exact AS (
  SELECT 50 AS q, quantile_cont(c, 0.50) AS e FROM cents
  UNION ALL
  SELECT 90, quantile_cont(c, 0.90) FROM cents
  UNION ALL
  SELECT 99, quantile_cont(c, 0.99) FROM cents
)
SELECT est.q AS q,
       ROUND(exact.e / 100, 4) AS exact_dollars,
       CAST(est.qbin * 2000 AS BIGINT) AS est_lower_edge,
       CAST(est.qbin * 2000 + 1000 AS BIGINT) AS est_mid,
       ROUND(ABS(est.qbin * 200000 + 100000 - exact.e) / exact.e, 4)
         AS rel_err,
       ABS(est.qbin * 200000 + 100000 - exact.e) <= 100000
         AS within_half_bin
FROM est JOIN exact USING (q)
ORDER BY q
""",
    doc="Sketch-accuracy evaluation of the portable histogram "
    "quantile (q_agg_hist_quantile's 64x$2000-bin estimator) "
    "against the EXACT percentiles, in-engine: per quantile, the "
    "exact value, the bin estimate (lower edge + midpoint), the "
    "relative error, and the within-half-bin guarantee check — "
    "the q_llm_minhash_eval QA discipline applied to the numeric "
    "sketch family. Exact percentiles run on integer cents so "
    "both engines agree to the half-cent.",
    scale_notes="The sketch leg is the mergeable 64-bin aggregate "
    "(constant state); the exact leg is the expensive "
    "eval-only reference (sampled at 100 TB — the metrics are "
    "ratios). 3-row head.",
)
def q_agg_quantile_eval(spark, sf_dir):
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    cents = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c")
    )
    b = cents.select(
        F.least(
            F.floor(F.col("c") / 200000).cast("bigint"),
            F.lit(63).cast("bigint"),
        ).alias("bin")
    ).groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = b.withColumn("cum", F.sum("cnt").over(w).cast("bigint"))
    tot = b.agg(F.sum("cnt").cast("bigint").alias("n"))
    qs = spark.range(3).select(
        F.element_at(
            F.array(F.lit(50), F.lit(90), F.lit(99)),
            (F.col("id") + 1).cast("int"),
        ).alias("q")
    )
    est = (
        qs.crossJoin(F.broadcast(tot))
        .join(cum, F.col("cum") * 100 >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("bin").alias("qbin"))
    )
    exact = cents.agg(
        F.expr("percentile(c, 0.50)").alias("e50"),
        F.expr("percentile(c, 0.90)").alias("e90"),
        F.expr("percentile(c, 0.99)").alias("e99"),
    ).select(
        F.explode(
            F.array(
                F.struct(F.lit(50).alias("q"), F.col("e50").alias("e")),
                F.struct(F.lit(90).alias("q"), F.col("e90").alias("e")),
                F.struct(F.lit(99).alias("q"), F.col("e99").alias("e")),
            )
        ).alias("x")
    ).select("x.q", "x.e")
    mid = F.col("qbin") * 200000 + 100000
    return (
        est.join(exact, "q")
        .select(
            "q",
            F.round(F.col("e") / 100, 4).alias("exact_dollars"),
            (F.col("qbin") * 2000).cast("bigint").alias("est_lower_edge"),
            (F.col("qbin") * 2000 + 1000)
            .cast("bigint")
            .alias("est_mid"),
            F.round(F.abs(mid - F.col("e")) / F.col("e"), 4).alias(
                "rel_err"
            ),
            (F.abs(mid - F.col("e")) <= 100000).alias("within_half_bin"),
        )
        .orderBy("q")
    )
