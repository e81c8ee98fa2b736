"""Join operators (SURVEY.md §2 B.3).

The reference's only "join" is key matching at the sink
(ON CONFLICT (date) DO NOTHING — /root/reference/lambda_function.py:176-182):
its two duals here are the anti join (rows whose key is absent) and the
semi join (present).  The rest generalize to the full Spark join
surface: broadcast/sort-merge equi joins, outer joins, cross, range
(theta), as-of, and multi-way star joins.

Scale notes (100 TB): dimension sides (region/nation/customer-filtered,
the cursor row, the time axis) are broadcast — no shuffle of the fact
table for those.  Large-large joins (lineitem x orders) shuffle both
sides on the join key; AQE handles skew splitting.  The as-of join is
a single shuffle of the unioned stream, not a per-row lookup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_etl_spark.functions.exact import dec2, dec6, md5_prefix_int
from weather_etl_spark.io import read_table, scratch_dir
from weather_etl_spark.registry import register


@register(
    "q_join_bcast",
    oracle="""
SELECT r_name, COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    doc="Broadcast hash inner equi join (small dim).",
    scale_notes="region is tiny at every SF — broadcast eliminates the "
    "shuffle entirely; the plan should show BroadcastHashJoin.",
)
def q_join_bcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        nation.join(
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
            "inner",
        )
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@register(
    "q_join_smj",
    oracle="""
SELECT o_orderstatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""",
    doc="Large-large inner equi join (sort-merge/shuffled-hash per AQE) "
    "with revenue aggregation.",
    scale_notes="Both sides shuffle on orderkey once; at 100 TB bucketing "
    "both tables by orderkey removes this shuffle. Revenue is an exact "
    "decimal sum (per-row double product is IEEE-identical across engines).",
)
def q_join_smj(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    revenue_row = dec2("l_extendedprice") * dec6(
        F.lit(1.0) - F.col("l_discount")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .groupBy("o_orderstatus")
        .agg(
            F.sum(revenue_row).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q_join_left",
    oracle="""
SELECT c_custkey, COUNT(e.event_id) AS n_events,
       COALESCE(CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 0.0)
         AS total_value
FROM customer c LEFT JOIN events e ON c.c_custkey = e.user_id
GROUP BY c_custkey
""",
    doc="Left outer join with null-side aggregation (customers with zero "
    "events keep a row with n_events = 0). Shipped as the scale shape: "
    "events pre-aggregate per user BEFORE the join, so the join (and "
    "its shuffle) moves one row per user instead of one per event — "
    "identical result to join-then-aggregate because every c_custkey "
    "matches exactly one user_id group and the per-user decimal sums "
    "are exact.",
    scale_notes="Pre-aggregate-then-join: the events shuffle carries "
    "(user_id, count, decimal-sum) partials — at 100 TB that is |users| "
    "rows instead of |events|. The customer side joins the shrunken "
    "per-user frame; zero-event customers surface via COALESCE after "
    "the left join rather than null-group aggregation.",
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("event_id").alias("n_ev"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
    )
    return cust.join(
        per_user, cust.c_custkey == per_user.user_id, "left"
    ).select(
        "c_custkey",
        F.coalesce(F.col("n_ev"), F.lit(0)).alias("n_events"),
        F.coalesce(
            F.col("sum_value").cast("double"), F.lit(0.0)
        ).alias("total_value"),
    )


@register(
    "q_join_full",
    oracle="""
SELECT CASE WHEN o_orderkey IS NULL THEN 'event_only'
            WHEN event_id  IS NULL THEN 'order_only'
            ELSE 'both' END AS side,
       COUNT(*) AS n
FROM orders FULL JOIN events ON o_custkey = user_id
GROUP BY side
""",
    doc="Full outer join over sparsely-overlapping keys, classified by "
    "which side matched.",
    scale_notes="Full outer cannot broadcast — single shuffle on the key; "
    "AQE skew-split covers hot users.",
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    ev = read_table(spark, sf_dir, "events")
    joined = orders.join(ev, orders.o_custkey == ev.user_id, "full")
    side = (
        F.when(F.col("o_orderkey").isNull(), "event_only")
        .when(F.col("event_id").isNull(), "order_only")
        .otherwise("both")
    )
    return joined.groupBy(side.alias("side")).agg(F.count(F.lit(1)).alias("n"))


@register(
    "q_join_semi",
    oracle="""
SELECT o_orderkey FROM orders
WHERE EXISTS (SELECT 1 FROM events WHERE user_id = o_custkey)
""",
    doc="Left semi join (EXISTS): orders of users with >=1 event — no "
    "row duplication regardless of match count.",
    scale_notes="Semi join only ships the distinct key set of the right "
    "side; broadcastable when the key set is small.",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    ev = read_table(spark, sf_dir, "events")
    return orders.join(
        ev, orders.o_custkey == ev.user_id, "left_semi"
    ).select("o_orderkey")


@register(
    "q_join_anti",
    oracle="""
SELECT c_custkey, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
""",
    doc="Left anti join (NOT EXISTS): customers with no events — the "
    "relational dual of the reference's ON CONFLICT DO NOTHING dedup "
    "(A11, lambda_function.py:176-182).",
    scale_notes="Anti join against a small key set broadcasts; this is "
    "exactly the engine's idempotent-append merge primitive.",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    ev = read_table(spark, sf_dir, "events")
    return cust.join(
        ev, cust.c_custkey == ev.user_id, "left_anti"
    ).select("c_custkey", "c_mktsegment")


@register(
    "q_join_cross",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
    doc="Cross product of two bounded dimensions.",
    scale_notes="Only valid for bounded dims; the engine never cross-joins "
    "two fact tables (kNN uses a broadcast probe set instead).",
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = read_table(spark, sf_dir, "region")
    nation = read_table(spark, sf_dir, "nation")
    return region.crossJoin(nation).select("r_name", "n_name")


@register(
    "q_join_range",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem JOIN orders
  ON l_orderkey = o_orderkey
 AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 90 DAY
GROUP BY o_orderstatus
""",
    doc="Range (theta) join: equi key + temporal BETWEEN predicate "
    "(generalizes the reference's temporal window predicates, A5/A14).",
    scale_notes="The equi key carries the shuffle; the range predicate "
    "evaluates post-match (no O(n^2) blowup).",
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate <= orders.o_orderdate + F.expr("INTERVAL 90 DAYS"))
    )
    return (
        li.join(orders, cond, "inner")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec2("l_extendedprice")).cast("double").alias("sum_price"),
        )
    )


@register(
    "q_join_asof",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id,
       epoch_us(p.ts) AS ts_us, epoch_us(v.ts) AS view_ts_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
""",
    doc="As-of join: each purchase matched to the user's latest view at "
    "or before it. Spark has no native as-of; built as tag + union + "
    "last(ignorenulls) window (SURVEY.md §7.5), oracled by DuckDB ASOF.",
    scale_notes="One shuffle of the unioned stream on user_id — the "
    "standard distributed as-of pattern; beats per-row lookups and "
    "merge_asof-per-group for skewed users.",
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    is_probe = (F.col("event_type") == "purchase").cast("int")
    # At equal ts a view sorts before a purchase => ASOF's >= semantics.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), is_probe, F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    view_ts = F.when(F.col("event_type") == "view", F.unix_micros("ts"))
    return (
        ev.withColumn("view_ts_us", F.last(view_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "view_ts_us",
        )
    )


@register(
    "q_join_star",
    oracle="""
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       CAST(MIN(o_orderdate) AS DATE) AS order_date
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
  AND l_shipdate  > TIMESTAMP '1996-06-30 00:00:00'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
    doc="Multi-way star join (TPC-H Q3 shape): filtered dim -> fact -> "
    "fact chain with top-k on aggregated revenue.",
    scale_notes="customer(BUILDING) broadcasts by size estimation (no "
    "hint — customer grows with SF, so AQE may flip it to shuffle at "
    "100x); lineitem<->orders is the one big shuffle; "
    "TakeOrderedAndProject handles the top-10 without a global sort.",
)
def q_join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-30 00:00:00").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-06-30 00:00:00").cast("timestamp")
    )
    revenue_row = dec2("l_extendedprice") * dec6(
        F.lit(1.0) - F.col("l_discount")
    )
    # customer grows with SF — hint dropped; size-estimation/AQE still
    # broadcasts the filtered dim at bench SF (plan-asserted) and
    # degrades gracefully to a shuffle join at 100x.
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.sum(revenue_row).cast("double").alias("revenue"),
            F.to_date(F.min("o_orderdate")).alias("order_date"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "q_join_bucketed",
    oracle="""
SELECT o_orderstatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""",
    doc="Shuffle-free co-located join via bucketing: both fact tables "
    "are written bucketed+sorted by orderkey (8 buckets), then joined — "
    "the physical plan contains NO Exchange on the join path (asserted "
    "in tests). Result is identical to the shuffled join q_join_smj; "
    "this is the 100 TB answer to the fact-fact shuffle called out in "
    "SCALE.md §3.",
    scale_notes="Bucket count is chosen at write time (~ total data / "
    "target partition size); every subsequent equi-join or aggregation "
    "on the bucket key reads co-located buckets and skips the exchange "
    "entirely. The one-time bucketed write amortizes across every "
    "downstream join.",
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic table names + overwrite: repeat registry sweeps
    # replace rather than accumulate catalog tables; the scratch dir
    # (and its bucket files) is removed once at process exit.
    li_tbl, od_tbl = "li_bkt", "od_bkt"
    warehouse = scratch_dir("bucketed_wh")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    od = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    for df, tbl, key in ((li, li_tbl, "l_orderkey"), (od, od_tbl, "o_orderkey")):
        (
            df.write.mode("overwrite")
            .option("path", f"{warehouse}/{tbl}")
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(tbl)
        )
    joined = (
        spark.table(li_tbl)
        .join(
            spark.table(od_tbl),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.sum(dec2("l_extendedprice") * dec6(F.lit(1) - F.col("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    return joined


@register(
    "q_join_dpp",
    oracle="""
WITH sel AS (SELECT DISTINCT EXTRACT(year FROM o_orderdate) AS yr
             FROM orders WHERE o_orderpriority = '1-URGENT'
             AND EXTRACT(year FROM o_orderdate) <= 1996)
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders JOIN sel ON EXTRACT(year FROM o_orderdate) = sel.yr
GROUP BY EXTRACT(year FROM o_orderdate)
""",
    doc="Dynamic partition pruning: orders are staged PARTITIONED BY "
    "order_year, then joined to a small filtered dimension of selected "
    "years — at runtime Spark prunes the fact scan to only the "
    "partitions the dim side produces (dynamicpruning#N subquery in "
    "the plan, asserted in tests/test_scale_plans.py).",
    scale_notes="DPP is THE mechanism that makes dim-filtered fact "
    "scans cheap on a date-partitioned 100 TB table: the fact side "
    "reads only partitions surviving the runtime filter, without the "
    "user writing the partition predicate. Requires the join key to be "
    "the partition column and a broadcastable filtered dim.",
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = scratch_dir("dpp_orders")
    od = read_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("long")
    )
    staged = od.select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "order_year"
    )
    staged.write.mode("overwrite").partitionBy("order_year").parquet(tmp)
    # Explicit schema on read-back (no inference — SURVEY §1.3); also
    # keeps a zero-row staging write readable.  Partition pruning still
    # comes from the directory layout, not the schema source.
    fact = spark.read.schema(staged.schema).parquet(tmp)
    sel = (
        fact.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("order_year") <= 1996)
        )
        .select(F.col("order_year").alias("yr"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(sel), fact.order_year == sel.yr)
        .groupBy(fact.order_year)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )


@register(
    "q_join_cbo",
    oracle="""
SELECT n_name,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY n_name
""",
    doc="Cost-based-optimizer join: the three inputs are staged as "
    "catalog tables, ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL "
    "COLUMNS populates row/column stats, and the plan is built with "
    "spark.sql.cbo.enabled + joinReorder so Catalyst orders and "
    "strategizes the join tree from CARDINALITY estimates, not file "
    "sizes (tests assert the optimized plan carries ANALYZE row "
    "counts).",
    scale_notes="At 100 TB, size-in-bytes alone misjudges filtered "
    "dims (a 10 GB dim filtered to 0.1% is broadcastable only if the "
    "optimizer knows the selectivity) — column histograms/NDV from "
    "ANALYZE are what make broadcast and join-order decisions right. "
    "Stats collection is a metadata-only scan amortized across every "
    "downstream query.",
)
def q_join_cbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    warehouse = scratch_dir("cbo_wh")
    stage = {
        "cbo_orders": read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
        "cbo_customer": read_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey", "c_mktsegment"
        ),
        "cbo_nation": read_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name"
        ),
    }
    for tbl, df in stage.items():
        df.write.mode("overwrite").option(
            "path", f"{warehouse}/{tbl}"
        ).saveAsTable(tbl)
        spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR ALL COLUMNS")

    old_cbo = spark.conf.get("spark.sql.cbo.enabled")
    old_reorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try:
        joined = (
            spark.table("cbo_orders")
            .join(
                spark.table("cbo_customer").filter(
                    F.col("c_mktsegment") == "BUILDING"
                ),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .join(
                spark.table("cbo_nation"),
                F.col("c_nationkey") == F.col("n_nationkey"),
            )
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(dec2("o_totalprice")).cast("double").alias("total"),
            )
        )
        # Materialize the CBO-planned result while the confs are on —
        # callers may execute the returned frame after the finally.
        return joined.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old_cbo)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", old_reorder)


@register(
    "q_join_lateral",
    oracle="""
SELECT n_name, t.c_custkey, t.c_acctbal
FROM nation n,
     LATERAL (SELECT c_custkey, c_acctbal
              FROM customer
              WHERE c_nationkey = n.n_nationkey
              ORDER BY c_acctbal DESC, c_custkey ASC
              LIMIT 2) t
""",
    doc="Correlated lateral join (Spark 4 DataFrame.lateralJoin): for "
    "each nation, its top-2 customers by balance — the per-outer-row "
    "correlated subquery shape (unique tie-break on c_custkey for an "
    "exact oracle).",
    scale_notes="Catalyst decorrelates the lateral subquery into a "
    "join + per-key WindowGroupLimit rank — no per-outer-row re-"
    "execution; same physical cost as q_topk_group. Correlated "
    "LIMIT-per-key is exactly the 'top-k per entity' pattern a "
    "feature-store pipeline runs at 100 TB.",
)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer")
    sub = (
        cust.where(F.col("c_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
        .limit(2)
        .select("c_custkey", "c_acctbal")
    )
    return nat.lateralJoin(sub).select("n_name", "c_custkey", "c_acctbal")


@register(
    "q_join_null_safe",
    oracle="""
WITH a AS (SELECT NULLIF(o_orderkey % 5, 0) AS k FROM orders),
     b AS (SELECT DISTINCT NULLIF(c_custkey % 5, 0) AS k FROM customer)
SELECT a.k AS k, COUNT(*) AS n
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY a.k
""",
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): the NULL "
    "bucket joins the NULL bucket instead of vanishing — the semantics "
    "a sentinel-coded dimension key needs (reference A10 normalizes "
    "NaN to NULL, so NULL keys are a first-class join case here).",
    scale_notes="Plans exactly like an equi-join (<=> is a sortable/"
    "hashable key expression, NULL one bucket) — broadcast or shuffle "
    "hash as sizes dictate. A hot NULL bucket is a skew key like any "
    "other: salt it or let AQE split it.",
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = read_table(spark, sf_dir, "orders").select(
        F.nullif(F.col("o_orderkey") % 5, F.lit(0)).alias("k")
    )
    b = (
        read_table(spark, sf_dir, "customer")
        .select(F.nullif(F.col("c_custkey") % 5, F.lit(0)).alias("k"))
        .distinct()
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["k"]))
        .groupBy(a["k"].alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_join_asof_fwd",
    oracle="""
SELECT v.event_id AS view_id, v.user_id,
       epoch_us(v.ts) AS ts_us, epoch_us(p.ts) AS next_purchase_us
FROM (SELECT * FROM events WHERE event_type = 'view') v
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id AND v.ts < p.ts
""",
    doc="FORWARD as-of join (the time-to-conversion query): each view "
    "matched to the user's NEXT purchase strictly after it. Mirror of "
    "q_join_asof — first(ignorenulls) over the forward window frame, "
    "with purchases at the identical timestamp sorted BEFORE the view "
    "so the strict < semantics hold (the forward frame starts at the "
    "view row and therefore excludes them). Oracled by DuckDB's ASOF "
    "with the < comparator.",
    scale_notes="Identical cost to the backward as-of: one shuffle of "
    "the unioned stream on user_id, one window pass — direction only "
    "flips the frame, not the plan shape.",
)
def q_join_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    # purchase (build side) sorts before view (probe side) at equal ts
    is_probe = (F.col("event_type") == "view").cast("int")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), is_probe, F.col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    purchase_ts = F.when(
        F.col("event_type") == "purchase", F.unix_micros("ts")
    )
    return (
        ev.withColumn(
            "next_purchase_us", F.first(purchase_ts, ignorenulls=True).over(w)
        )
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "next_purchase_us",
        )
    )


#: Interval-overlap join geometry (epoch-µs): event interval length,
#: maintenance-window stride/length, bucket = window length.
_IV_EV_LEN = 300_000_000          # 5 min
_IV_W_STRIDE = 21_600_000_000     # 6 h
_IV_W_LEN = 1_800_000_000         # 30 min
_IV_N_WIN = 28
_IV_BUCKET = _IV_W_LEN


@register(
    "q_join_interval_overlap",
    oracle=f"""
WITH b AS (
  SELECT epoch_us(MIN(ts)) AS t0 FROM events WHERE event_id < 5000
), ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS s,
         epoch_us(ts) + {_IV_EV_LEN} AS e
  FROM events WHERE event_id < 5000
), w AS (
  SELECT unnest(range(0, {_IV_N_WIN})) AS win_idx, t0 FROM b
), wb AS (
  SELECT win_idx, t0 + win_idx * {_IV_W_STRIDE} AS ws,
         t0 + win_idx * {_IV_W_STRIDE} + {_IV_W_LEN} AS we
  FROM w
)
SELECT CAST(win_idx AS BIGINT) AS win_idx,
       CAST(ws AS BIGINT) AS win_start_us,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM ev JOIN wb ON ev.s < wb.we AND wb.ws < ev.e
GROUP BY win_idx, ws
""",
    doc="Interval-overlap join (sessions x maintenance windows): "
    "5-minute event intervals joined to 30-minute windows every 6 h "
    "on the overlap predicate [s,e) ∩ [ws,we) ≠ ∅, counting "
    "events/users per window. The Spark side uses the BUCKETED "
    "overlap algorithm — both interval sets explode into "
    "window-length time buckets, equi-join on bucket, then exact "
    "predicate + distinct — while the oracle states the naive "
    "theta join; identical output proves the optimization.",
    scale_notes="The theta join a naive plan turns into an O(n·m) "
    "BroadcastNestedLoop becomes an EQUI join on the time bucket: "
    "shuffle-partitionable, AQE-skew-splittable, with each interval "
    "expanding into <= 2 buckets (bucket = max interval length). "
    "This is the standard scalable range-join shape; no broadcast "
    "hints, so giant window tables shuffle like any fact.",
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 5000)
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("s"),
            (F.unix_micros("ts") + F.lit(_IV_EV_LEN)).alias("e"),
        )
    )
    t0 = ev.agg(F.min("s").alias("t0"))
    w = (
        t0.select(
            F.explode(F.sequence(F.lit(0), F.lit(_IV_N_WIN - 1))).alias(
                "win_idx"
            ),
            "t0",
        )
        .select(
            "win_idx",
            (F.col("t0") + F.col("win_idx") * _IV_W_STRIDE).alias("ws"),
            (
                F.col("t0") + F.col("win_idx") * _IV_W_STRIDE + _IV_W_LEN
            ).alias("we"),
        )
    )
    evb = ev.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / _IV_BUCKET),
                F.floor((F.col("e") - 1) / _IV_BUCKET),
            )
        ),
    )
    wb = w.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("ws") / _IV_BUCKET),
                F.floor((F.col("we") - 1) / _IV_BUCKET),
            )
        ),
    )
    pairs = (
        evb.join(wb, "bucket")
        .filter((F.col("s") < F.col("we")) & (F.col("ws") < F.col("e")))
        .select("win_idx", "ws", "event_id", "user_id")
        .distinct()
    )
    return pairs.groupBy(
        F.col("win_idx").cast("bigint").alias("win_idx"),
        F.col("ws").cast("bigint").alias("win_start_us"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


#: Salt fan-out for the skew-safe large-large join demo.
_SALT = 8


@register(
    "q_join_salted",
    oracle="""
SELECT s_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l_discount AS DECIMAL(18,6))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
""",
    doc="Salted shuffle JOIN (the skew-mitigation twin of "
    "q_agg_skew_salted, applied to the join itself): the fact side "
    f"salts its supplier key with l_orderkey % {_SALT}, the supplier "
    f"side replicates each row across all {_SALT} salts, and the join "
    "runs on (suppkey, salt) so one hot supplier spreads over "
    f"{_SALT} reducers. The oracle states the plain unsalted join — "
    "identical revenue per supplier proves the rewrite is "
    "semantics-preserving.",
    scale_notes="Manual salting for when AQE's runtime skew split "
    "isn't available (e.g. the join feeds a co-partitioned consumer "
    "that pins the partitioning). Cost: small side replicated "
    f"x{_SALT} (bounded — it's the dimension side); benefit: hot-key "
    "reducer spread. partial aggregation still applies above the "
    "join.",
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_extendedprice",
        "l_discount",
        (F.col("l_orderkey") % _SALT).alias("salt"),
    )
    sup = (
        read_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name")
        .withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1)))
        )
    )
    rev = F.sum(
        dec2("l_extendedprice") * dec6(F.lit(1) - F.col("l_discount"))
    ).cast("double")
    return (
        li.join(
            sup,
            (li.l_suppkey == sup.s_suppkey) & (li.salt == sup.salt),
        )
        .groupBy("s_name")
        .agg(rev.alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


@register(
    "q_join_bloom",
    oracle="""
WITH dim AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
hs AS (SELECT unnest([0, 1, 2]) AS j),
bits AS (
  SELECT DISTINCT
         CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
                                  CAST(c_custkey AS VARCHAR)), 1, 8))
              AS BIGINT) % 1024 AS bit
  FROM dim CROSS JOIN hs
),
probe AS (
  SELECT o.o_orderkey, o.o_custkey, hs.j,
         CAST(('0x' || substr(md5(CAST(hs.j AS VARCHAR) || ':' ||
                                  CAST(o.o_custkey AS VARCHAR)), 1, 8))
              AS BIGINT) % 1024 AS bit
  FROM orders o CROSS JOIN hs
),
hits AS (
  SELECT o_orderkey, o_custkey
  FROM probe JOIN bits USING (bit)
  GROUP BY o_orderkey, o_custkey
  HAVING COUNT(DISTINCT j) = 3
)
SELECT (SELECT COUNT(*) FROM hits) AS n_bloom_pass,
       (SELECT COUNT(*) FROM orders JOIN dim ON o_custkey = c_custkey)
         AS n_true,
       (SELECT COUNT(*) FROM hits
        WHERE o_custkey NOT IN (SELECT c_custkey FROM dim))
         AS n_false_pos
""",
    doc="Bloom-filter pre-join (the runtime-filter / semi-join-pushdown "
    "pattern Spark itself applies as InjectRuntimeFilter): a 1024-bit "
    "filter with 3 md5-derived hash functions is built from the "
    "filtered customer dim, then every order probes it — an order "
    "passes iff all three of its key's bits are set. Output: rows "
    "passing the bloom filter, true semi-join matches, and the false "
    "positives the bit collisions admit (bloom guarantees no false "
    "negatives: n_bloom_pass = n_true + n_false_pos, which the oracle "
    "hash-verifies). All-integer bit arithmetic, portable across "
    "engines.",
    scale_notes="The filter is m=1024 DISTINCT bit rows — bounded by "
    "construction regardless of dim size, so the broadcast hint is "
    "safe (the policy SCALE.md §10 sets: hint only what is bounded "
    "by a constant). The probe side never shuffles: membership is a "
    "broadcast-hash join against the bit set plus a 3-of-3 count per "
    "row. At 100 TB this is exactly how a runtime filter prunes a "
    "fact scan before the real join.",
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    ords = read_table(spark, sf_dir, "orders")
    dim = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    hs = spark.range(3).select(F.col("id").cast("int").alias("j"))

    def bloom_bit(j_col, key_col):
        seeded = F.concat(
            j_col.cast("string"), F.lit(":"), key_col.cast("string")
        )
        return md5_prefix_int(seeded, 8) % 1024

    bits = (
        dim.crossJoin(F.broadcast(hs))
        .select(bloom_bit(F.col("j"), F.col("c_custkey")).alias("bit"))
        .distinct()
    )
    probe = ords.crossJoin(F.broadcast(hs)).select(
        "o_orderkey",
        "o_custkey",
        "j",
        bloom_bit(F.col("j"), F.col("o_custkey")).alias("bit"),
    )
    # bits is bounded at m=1024 rows by construction -> safe to hint.
    hits = (
        probe.join(F.broadcast(bits), "bit")
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.count_distinct("j").alias("nj"))
        .filter(F.col("nj") == 3)
        .select("o_orderkey", "o_custkey")
    )
    n_pass = hits.agg(F.count(F.lit(1)).alias("n_bloom_pass"))
    n_true = (
        ords.join(dim, ords.o_custkey == dim.c_custkey)
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    n_fp = (
        hits.join(dim, hits.o_custkey == dim.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_false_pos"))
    )
    return n_pass.crossJoin(n_true).crossJoin(n_fp)


#: As-of tolerance: a view older than this (µs) is no match.
_ASOF_TOL_US = 7_200_000_000  # 2 h


@register(
    "q_join_asof_tol",
    oracle=f"""
SELECT p.event_id AS purchase_id, p.user_id,
       epoch_us(p.ts) AS ts_us,
       CASE WHEN epoch_us(p.ts) - epoch_us(v.ts) <= {_ASOF_TOL_US}
            THEN epoch_us(v.ts) END AS view_ts_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
""",
    doc="As-of join with a match tolerance (pandas merge_asof "
    "`tolerance` / kdb wj semantics): each purchase matched to the "
    "user's latest view at or before it, but only if that view is "
    "within 2 h — staler matches are nulled out rather than joined. "
    "Same tag+union+last(ignorenulls) build as q_join_asof; the "
    "tolerance is a post-filter on the matched timestamp, so the "
    "physical plan is identical to the untolerated as-of.",
    scale_notes="One shuffle of the unioned stream on user_id, same "
    "as q_join_asof. The tolerance predicate is a codegen'd "
    "projection — no extra shuffle, join, or state; at 100 TB the "
    "user_id partitioning (salted for hot users) carries it "
    "unchanged.",
)
def q_join_asof_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    is_probe = (F.col("event_type") == "purchase").cast("int")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), is_probe, F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    view_ts = F.when(F.col("event_type") == "view", F.unix_micros("ts"))
    matched = F.last(view_ts, ignorenulls=True).over(w)
    return (
        ev.withColumn("raw_view_us", matched)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.when(
                F.unix_micros("ts") - F.col("raw_view_us") <= _ASOF_TOL_US,
                F.col("raw_view_us"),
            ).alias("view_ts_us"),
        )
    )


#: Time-window join tolerance (µs): +-1 h, bucket = tolerance.
_TW_TOL_US = 3_600_000_000
_TW_TOL_SQL = f"INTERVAL {_TW_TOL_US // 1_000_000} SECOND"


def _time_window_join(
    spark: SparkSession, sf_dir: str, how: str
) -> DataFrame:
    """Purchases joined (semi or anti) to same-user errors within the
    tolerance, via the hour-bucket grid: error events replicate to
    bucket +-1 (bucket size = tolerance, so |dt| <= tol implies bucket
    distance <= 1 — the candidate set provably covers every true
    match), then ONE (user_id, bucket) equi join carries the exact
    |dt| predicate. Shared by the semi and anti variants so both
    sides always use the identical grid."""
    ev = read_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("p_us"),
        F.floor(F.unix_micros("ts") / _TW_TOL_US).alias("pb"),
    )
    err = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.unix_micros("ts").alias("e_us"),
        )
        .withColumn(
            "pb",
            F.explode(
                F.array(
                    F.floor(F.col("e_us") / _TW_TOL_US) - 1,
                    F.floor(F.col("e_us") / _TW_TOL_US),
                    F.floor(F.col("e_us") / _TW_TOL_US) + 1,
                )
            ),
        )
    )
    return purch.join(
        err,
        (purch.user_id == err.e_user)
        & (purch.pb == err.pb)
        & (F.abs(purch.p_us - err.e_us) <= _TW_TOL_US),
        how,
    ).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("p_us").alias("ts_us"),
    )


@register(
    "q_join_time_window_semi",
    oracle=f"""
SELECT p.event_id AS purchase_id, p.user_id, epoch_us(p.ts) AS ts_us
FROM events p
WHERE p.event_type = 'purchase'
  AND EXISTS (
    SELECT 1 FROM events e
    WHERE e.event_type = 'error'
      AND e.user_id = p.user_id
      AND e.ts BETWEEN p.ts - {_TW_TOL_SQL}
                   AND p.ts + {_TW_TOL_SQL})
""",
    doc="Windowed existence join: purchases by a user who ALSO hit an "
    "error within +-1 h — the batch analogue of a stream-stream "
    "interval join's match predicate (st_stream_stream_join), and "
    "the classic incident-correlation query. The oracle is the "
    "literal correlated EXISTS BETWEEN; the Spark side bounds the "
    "range join by the grid trick: error events replicate to their "
    "hour bucket +-1 (bucket size = tolerance, so |dt| <= 1 h "
    "implies bucket distance <= 1 — provably complete), then ONE "
    "(user_id, bucket) equi LEFT SEMI join with the exact |dt| "
    "predicate riding along.",
    scale_notes="Never a non-equi range join: 3x map-side "
    "replication of the (smaller, filtered) error side, one hash "
    "shuffle on (user_id, bucket), semi-join short-circuits per "
    "probe row. The same shape as q_join_spatial_grid in one "
    "dimension; bucket = tolerance keeps replication constant.",
)
def q_join_time_window_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _time_window_join(spark, sf_dir, "left_semi")


@register(
    "q_join_time_window_anti",
    oracle=f"""
SELECT p.event_id AS purchase_id, p.user_id, epoch_us(p.ts) AS ts_us
FROM events p
WHERE p.event_type = 'purchase'
  AND NOT EXISTS (
    SELECT 1 FROM events e
    WHERE e.event_type = 'error'
      AND e.user_id = p.user_id
      AND e.ts BETWEEN p.ts - {_TW_TOL_SQL}
                   AND p.ts + {_TW_TOL_SQL})
""",
    doc="Windowed absence join (the complement of "
    "q_join_time_window_semi): purchases by users with NO error "
    "within +-1 h — the 'clean conversion' / absence-of-signal "
    "detector. Same hour-bucket grid bounding, flipped to LEFT "
    "ANTI: the bucket candidates are a superset of true matches, "
    "so anti-joining against them with the exact |dt| predicate is "
    "precisely NOT EXISTS.",
    scale_notes="Identical physics to the semi variant: 3x "
    "replication of the filtered error side, one (user_id, bucket) "
    "hash shuffle, anti-join short-circuit. Absence queries at "
    "100 TB are the same plan as presence queries — only the join "
    "type bit differs.",
)
def q_join_time_window_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _time_window_join(spark, sf_dir, "left_anti")


@register(
    "q_join_mark",
    oracle="""
SELECT c_custkey, c_name,
       EXISTS (SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_totalprice > 450000) AS has_big_order
FROM customer c
""",
    doc="Mark join (EXISTS as a projected boolean, not a filter): "
    "every customer row survives, annotated with whether a "
    ">450k order exists — the optimizer concept DuckDB calls a "
    "MARK join and Spark expresses as a left join against the "
    "pre-aggregated distinct key set with an IS NOT NULL flag. "
    "Complements q_join_semi/q_join_anti, which FILTER on the "
    "same predicate instead of annotating.",
    scale_notes="The probe side reduces to distinct qualifying "
    "keys (filter -> dedup, dim-sized) before the join, so the "
    "flag costs one hash join against a shrunken build side — AQE "
    "broadcasts it. Never a correlated per-row subquery.",
)
def q_join_mark(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    big = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(F.col("o_custkey").alias("bk"))
        .distinct()
    )
    return cust.join(
        big, cust.c_custkey == big.bk, "left"
    ).select(
        "c_custkey",
        "c_name",
        F.col("bk").isNotNull().alias("has_big_order"),
    )


@register(
    "q_join_asof_nearest",
    oracle="""
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT p.event_id AS purchase_id, p.user_id, p.ts,
         (SELECT MAX(v.ts) FROM events v
           WHERE v.event_type = 'view' AND v.user_id = p.user_id
             AND v.ts <= p.ts) AS bts,
         (SELECT MIN(v.ts) FROM events v
           WHERE v.event_type = 'view' AND v.user_id = p.user_id
             AND v.ts > p.ts) AS fts
  FROM p
)
SELECT purchase_id, user_id, epoch_us(ts) AS ts_us,
       CASE
         WHEN bts IS NULL AND fts IS NULL THEN NULL
         WHEN fts IS NULL THEN epoch_us(bts)
         WHEN bts IS NULL THEN epoch_us(fts)
         WHEN epoch_us(ts) - epoch_us(bts)
              <= epoch_us(fts) - epoch_us(ts)
           THEN epoch_us(bts)
         ELSE epoch_us(fts)
       END AS view_ts_us,
       CASE
         WHEN bts IS NULL AND fts IS NULL THEN NULL
         WHEN fts IS NULL THEN 'back'
         WHEN bts IS NULL THEN 'fwd'
         WHEN epoch_us(ts) - epoch_us(bts)
              <= epoch_us(fts) - epoch_us(ts)
           THEN 'back'
         ELSE 'fwd'
       END AS direction
FROM c
""",
    doc="NEAREST as-of join (pandas merge_asof direction='nearest'): "
    "each purchase matched to the closer of the user's latest view "
    "at-or-before and earliest view strictly-after, ties to the "
    "backward match. Completes the as-of family (backward "
    "q_join_asof, forward q_join_asof_fwd, tolerance "
    "q_join_asof_tol). One unioned stream, one user_id shuffle, "
    "BOTH direction windows evaluated over the same ordering — the "
    "oracle's correlated MAX/MIN subqueries are the declarative "
    "spec; Catalyst never executes them per row on the Spark side.",
    scale_notes="The two frames (last-preceding, first-following) "
    "share one Exchange + sort: Spark plans a single window stage "
    "pair over the same partitioning, so 'nearest' costs the same "
    "one shuffle as either directional as-of. Hot-user salting "
    "identical to q_join_asof.",
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    is_probe = (F.col("event_type") == "purchase").cast("int")
    order = [F.col("ts"), is_probe, F.col("event_id")]
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
    view_ts = F.when(F.col("event_type") == "view", F.unix_micros("ts"))
    tagged = ev.select(
        "event_type",
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("p_us"),
        F.last(view_ts, ignorenulls=True).over(w_back).alias("b"),
        F.first(view_ts, ignorenulls=True).over(w_fwd).alias("f"),
    ).filter(F.col("event_type") == "purchase")
    back_wins = (
        F.col("f").isNull()
        | (
            F.col("b").isNotNull()
            & (
                F.col("p_us") - F.col("b")
                <= F.col("f") - F.col("p_us")
            )
        )
    )
    return tagged.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("p_us").alias("ts_us"),
        F.when(F.col("b").isNull() & F.col("f").isNull(), None)
        .when(back_wins, F.col("b"))
        .otherwise(F.col("f"))
        .alias("view_ts_us"),
        F.when(F.col("b").isNull() & F.col("f").isNull(), None)
        .when(back_wins, F.lit("back"))
        .otherwise(F.lit("fwd"))
        .alias("direction"),
    )
