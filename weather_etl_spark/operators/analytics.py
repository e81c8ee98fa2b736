"""Behavioral / product analytics operators (SURVEY.md §2 B.12,
round 6 late batch): conversion funnel, cohort retention, and
deterministic weighted sampling.

The reference's event pipeline (lambda_function.py:96-150 fetch ->
frame -> filter) stops at per-row transforms; these are the standard
next-step analyses every event warehouse runs on the same table, each
re-expressed as exact-oracled DataFrame plans:

- q_funnel: staged conversion (view -> click -> purchase) as three
  cascaded conditional min-aggregates, never a per-user collect;
- q_cohort_retention: the classic cohort x week-offset retention
  matrix from two shuffles (first-event cohort + distinct activity);
- q_sample_weighted: weight-proportional Bernoulli sampling with an
  md5-derived uniform, all-integer so both engines agree bit-for-bit
  (the float-free cousin of A-ES weighted reservoir sampling);
- q_scd2_intervals: SCD Type-2 versioned-dimension build (lag-detect
  changes, lead-close validity intervals) in one user_id shuffle;
- q_cdc_upsert: the CDC latest-wins MERGE semantic — pre-reduced
  change stream full-outer the base snapshot, rows classified
  inserted/updated/unchanged (the set-based generalization of the
  reference's ON CONFLICT append, A11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_etl_spark.functions.exact import md5_prefix_int
from weather_etl_spark.io import read_table
from weather_etl_spark.registry import register


@register(
    "q_funnel",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT v.user_id AS user_id,
       1 + CAST(c.t_click IS NOT NULL AS INT)
         + CAST(p.t_purchase IS NOT NULL AS INT) AS stage,
       epoch_us(v.t_view) AS t_view_us,
       epoch_us(c.t_click) AS t_click_us,
       epoch_us(p.t_purchase) AS t_purchase_us
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
""",
    doc="Conversion funnel view -> click -> purchase: per user, the "
    "earliest view, the earliest click strictly after that view, and "
    "the earliest purchase strictly after that click — the stage "
    "number (1-3) is how far the user converted. Expressed as three "
    "cascaded filter+min aggregates (the set-based funnel formulation) "
    "rather than per-user event-list scans, so no collect_list ordering "
    "is ever relied on.",
    scale_notes="Three user_id-keyed shuffles over event-type-pruned "
    "inputs (each stage filters its event type BEFORE shuffling, so "
    "shuffle volume is one row per user per stage, not the event "
    "stream). At 100 TB the event-type filter pushes into the scan "
    "and AQE picks broadcast for the shrinking stage tables; funnel "
    "depth adds stages linearly, never quadratically.",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            (
                F.lit(1)
                + F.col("t_click").isNotNull().cast("int")
                + F.col("t_purchase").isNotNull().cast("int")
            ).alias("stage"),
            F.unix_micros("t_view").alias("t_view_us"),
            F.unix_micros("t_click").alias("t_click_us"),
            F.unix_micros("t_purchase").alias("t_purchase_us"),
        )
    )


@register(
    "q_cohort_retention",
    oracle="""
WITH first AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_wk
  FROM events GROUP BY user_id
), act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
)
SELECT CAST(cohort_wk AS DATE) AS cohort_week,
       CAST(date_diff('day', cohort_wk, wk) // 7 AS INT) AS week_offset,
       COUNT(*) AS n_users
FROM first JOIN act USING (user_id)
GROUP BY 1, 2
""",
    doc="Cohort retention matrix: users grouped by the ISO week of "
    "their first event (the cohort), each cell counting how many of "
    "that cohort were active N weeks later. Two aggregates — "
    "first-event per user and distinct (user, active-week) — joined "
    "on user_id; COUNT(*) is already distinct users because activity "
    "is deduplicated per (user, week) first.",
    scale_notes="Both inputs shuffle once on user_id (the join key), "
    "then one small shuffle on (cohort, offset) whose cardinality is "
    "weeks^2 — trivially bounded however large the corpus. The "
    "distinct-activity table is the only event-volume shuffle and "
    "carries (user, week) pairs, never event payloads.",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_wk")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    return (
        first.join(act, "user_id")
        .groupBy(
            F.col("cohort_wk").cast("date").alias("cohort_week"),
            F.expr(
                "CAST(datediff(CAST(wk AS DATE), CAST(cohort_wk AS DATE))"
                " DIV 7 AS INT)"
            ).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "q_sample_weighted",
    oracle="""
WITH w AS (
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS w_cents,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
              AS BIGINT) AS u32
  FROM orders
), mx AS (SELECT MAX(w_cents) AS wmax FROM w)
SELECT o_orderkey, w_cents, u32
FROM w CROSS JOIN mx
WHERE u32 * wmax < 2147483648 * w_cents
""",
    doc="Weight-proportional Bernoulli sampling: each order kept with "
    "probability (weight / max_weight) / 2, weight = total price in "
    "integer cents, uniform draw = the first 32 md5 bits of the key. "
    "The inclusion test u * wmax < 2^31 * w is pure 64-bit integer "
    "arithmetic — no float boundary can flip a row between engines "
    "(the same reason the reference's cursor filter compares raw "
    "timestamps, lambda_function.py:142-147). The float-free cousin "
    "of Efraimidis-Spirakis weighted reservoir sampling; for a fixed "
    "sample SIZE, rank the same u/w keys with TakeOrderedAndProject.",
    scale_notes="Zero-shuffle filter over the scan plus one 1-row "
    "global-max broadcast (the q_agg_global_max cursor pattern). "
    "Overflow-safe by construction: u < 2^32 and w_cents < 2^31 keep "
    "both products under 2^63.",
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("w_cents"),
        md5_prefix_int("o_orderkey", 8).alias("u32"),
    )
    mx = ords.agg(F.max("w_cents").alias("wmax"))
    return (
        ords.crossJoin(F.broadcast(mx))
        .filter(
            F.col("u32") * F.col("wmax")
            < F.lit(2147483648) * F.col("w_cents")
        )
        .select("o_orderkey", "w_cents", "u32")
    )


@register(
    "q_scd2_intervals",
    oracle="""
WITH ch AS (
  SELECT user_id, ts, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events WHERE event_type = 'view'
), changes AS (
  SELECT user_id, ts, value FROM ch
  WHERE prev IS NULL OR value <> prev
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS INT)
         AS version,
       epoch_us(ts) AS eff_from_us,
       epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts))
         AS eff_to_us,
       value
FROM changes
""",
    doc="SCD Type-2 dimension build (the warehouse pattern for "
    "versioned attributes): each user's 'view' value stream collapses "
    "to CHANGE rows (value differs from the previous event), and each "
    "change opens a validity interval [eff_from, eff_to) closed by the "
    "next change — eff_to NULL marks the current version. Two window "
    "passes (lag to detect changes, lead to close intervals), no "
    "self-join; an as-of join against the result is the point-in-time "
    "lookup q_join_asof already demonstrates.",
    scale_notes="Both windows partition on user_id — ONE shuffle, "
    "reused across the lag and lead passes (same partitioning "
    "expression, Catalyst plans a single Exchange). Change-row "
    "filtering happens between the passes, so the second window sorts "
    "only surviving versions. Value equality is raw-parquet-double "
    "equality, identical in both engines by construction.",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "view"
    )
    w_ev = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev", F.lag("value").over(w_ev))
        .filter(F.col("prev").isNull() | (F.col("value") != F.col("prev")))
        .select("user_id", "ts", "value")
    )
    w_ch = Window.partitionBy("user_id").orderBy("ts")
    return changes.select(
        "user_id",
        F.row_number().over(w_ch).cast("int").alias("version"),
        F.unix_micros("ts").alias("eff_from_us"),
        F.unix_micros(F.lead("ts").over(w_ch)).alias("eff_to_us"),
        "value",
    )


@register(
    "q_cdc_upsert",
    oracle="""
WITH base AS (
  SELECT user_id, MIN_BY(value, event_id) AS base_value
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), upd AS (
  SELECT user_id, MAX_BY(value, event_id) AS upd_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT COALESCE(base.user_id, upd.user_id) AS user_id,
       base.base_value AS base_value,
       upd.upd_value AS upd_value,
       COALESCE(upd.upd_value, base.base_value) AS current_value,
       CASE WHEN upd.user_id IS NULL THEN 'unchanged'
            WHEN base.user_id IS NULL THEN 'inserted'
            ELSE 'updated' END AS cdc_op
FROM base FULL OUTER JOIN upd ON base.user_id = upd.user_id
""",
    doc="CDC latest-wins upsert merge (the MERGE INTO semantic on "
    "plain tables, and the set-based generalization of the "
    "reference's ON CONFLICT append, lambda_function.py:176-186): "
    "the base snapshot is each user's first signup value, the change "
    "stream is purchases reduced to the LATEST value per key via "
    "max_by with a total (ts, event_id) tie-break; a full outer join "
    "classifies every key as inserted / updated / unchanged and "
    "emits the post-merge value.",
    scale_notes="Both sides reduce BEFORE the join (one row per key), "
    "so the full-outer shuffle carries key-sized tables, never the "
    "change stream. At 100 TB this is the standard dedup-then-merge "
    "compaction shape; the idempotent-append sink (A11) is the "
    "write-side of the same pattern.",
)
def q_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    base = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(
            F.expr("min_by(value, event_id)").alias("base_value")
        )
    )
    upd = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.expr("max_by(value, event_id)").alias("upd_value")
        )
    )
    b = base.alias("b")
    u = upd.alias("u")
    return b.join(
        u, F.col("b.user_id") == F.col("u.user_id"), "full_outer"
    ).select(
        F.coalesce(F.col("b.user_id"), F.col("u.user_id")).alias("user_id"),
        F.col("b.base_value").alias("base_value"),
        F.col("u.upd_value").alias("upd_value"),
        F.coalesce(F.col("u.upd_value"), F.col("b.base_value")).alias(
            "current_value"
        ),
        F.when(F.col("u.user_id").isNull(), "unchanged")
        .when(F.col("b.user_id").isNull(), "inserted")
        .otherwise("updated")
        .alias("cdc_op"),
    )


@register(
    "q_dq_audit",
    oracle="""
SELECT 'orders_orphan_custkey' AS check_name,
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
         AS n_violations,
       (SELECT COUNT(*) FROM orders) AS n_checked
UNION ALL
SELECT 'lineitem_orphan_orderkey',
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)),
       (SELECT COUNT(*) FROM lineitem)
UNION ALL
SELECT 'orders_null_orderdate',
       (SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL),
       (SELECT COUNT(*) FROM orders)
UNION ALL
SELECT 'orders_dup_orderkey',
       (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders),
       (SELECT COUNT(*) FROM orders)
UNION ALL
SELECT 'lineitem_qty_out_of_range',
       (SELECT COUNT(*) FROM lineitem
        WHERE l_quantity < 1 OR l_quantity > 50),
       (SELECT COUNT(*) FROM lineitem)
UNION ALL
SELECT 'lineitem_nonpositive_price',
       (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= 0),
       (SELECT COUNT(*) FROM lineitem)
""",
    doc="Data-quality audit suite (the expectation checks every "
    "production pipeline runs before publishing a partition, and the "
    "distributed generalization of the reference's fail-fast guards, "
    "lambda_function.py:119-127): referential integrity via "
    "NOT-EXISTS anti-joins (orders->customer, lineitem->orders), "
    "null-rate, primary-key duplication, and domain-range checks — "
    "one row per check with violation and population counts, so a "
    "single scan of the result gates the publish step.",
    scale_notes="Each check is an independent aggregate (count-only "
    "shuffles); the anti-joins shuffle on their FK and AQE broadcasts "
    "the smaller side. Checks over the same table share its scan via "
    "Spark's scan reuse; adding checks adds aggregates, never "
    "passes over the data that carry full rows.",
)
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    li = read_table(spark, sf_dir, "lineitem")

    def check(name, n_violations_df, n_checked_df):
        return (
            n_violations_df.crossJoin(n_checked_df)
            .select(
                F.lit(name).alias("check_name"),
                F.col("nv").alias("n_violations"),
                F.col("nc").alias("n_checked"),
            )
        )

    cnt = F.count(F.lit(1))
    n_orders = ords.agg(cnt.alias("nc"))
    n_li = li.agg(cnt.alias("nc"))
    checks = [
        check(
            "orders_orphan_custkey",
            ords.join(
                cust, ords.o_custkey == cust.c_custkey, "left_anti"
            ).agg(cnt.alias("nv")),
            n_orders,
        ),
        check(
            "lineitem_orphan_orderkey",
            li.join(
                ords, li.l_orderkey == ords.o_orderkey, "left_anti"
            ).agg(cnt.alias("nv")),
            n_li,
        ),
        check(
            "orders_null_orderdate",
            ords.agg(
                F.sum(F.col("o_orderdate").isNull().cast("bigint"))
                .cast("bigint")
                .alias("nv")
            ),
            n_orders,
        ),
        check(
            "orders_dup_orderkey",
            ords.agg(
                (cnt - F.count_distinct("o_orderkey"))
                .cast("bigint")
                .alias("nv")
            ),
            n_orders,
        ),
        check(
            "lineitem_qty_out_of_range",
            li.agg(
                F.sum(
                    (
                        (F.col("l_quantity") < 1)
                        | (F.col("l_quantity") > 50)
                    ).cast("bigint")
                )
                .cast("bigint")
                .alias("nv")
            ),
            n_li,
        ),
        check(
            "lineitem_nonpositive_price",
            li.agg(
                F.sum((F.col("l_extendedprice") <= 0).cast("bigint"))
                .cast("bigint")
                .alias("nv")
            ),
            n_li,
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


@register(
    "q_skew_profile",
    oracle="""
WITH per_key AS (
  SELECT l_suppkey AS k, COUNT(*) AS c FROM lineitem GROUP BY l_suppkey
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(MAX(c) AS BIGINT) AS max_rows
  FROM per_key
), rk AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM per_key
)
SELECT tot.n_keys, tot.n_rows, tot.max_rows,
       (SELECT CAST(MAX(c) AS BIGINT) FROM rk
        WHERE rn * 100 <= (SELECT n_keys FROM tot) * 50) AS p50_rows,
       (SELECT CAST(MAX(c) AS BIGINT) FROM rk
        WHERE rn * 100 <= (SELECT n_keys FROM tot) * 99) AS p99_rows,
       tot.max_rows * tot.n_keys * 100 // tot.n_rows
         AS max_over_mean_pct
FROM tot
""",
    doc="Shuffle-skew profile of a join/aggregation key (the "
    "diagnostic run BEFORE choosing salting or AQE skew hints): "
    "per-key row counts for lineitem.l_suppkey reduced to key count, "
    "row count, max, p50/p99 per-key rows, and max-over-mean as an "
    "integer percentage — a max_over_mean_pct far above 100 is the "
    "signal that one reducer will stall the stage (the condition "
    "q_join_salted and q_agg_skew_salted exist to fix). All-integer "
    "readout: percentile rows via the rank*100 <= n*q crossing test.",
    scale_notes="One shuffle of (key, partial-count) pairs with "
    "map-side combine; the profile reduction is over key cardinality, "
    "not rows. This is the cheap pre-flight a 100 TB join runs to "
    "decide between plain shuffle, salting, and AQE skew splitting — "
    "the operator's output IS the decision input.",
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_suppkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = per_key.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_rows"),
    )
    rk = per_key.select(
        "c", F.row_number().over(Window.orderBy("c")).alias("rn")
    )
    def pct(q, alias):
        return (
            rk.crossJoin(F.broadcast(tot.select("n_keys")))
            .filter(F.col("rn") * 100 <= F.col("n_keys") * q)
            .agg(F.max("c").cast("bigint").alias(alias))
        )

    return (
        tot.crossJoin(pct(50, "p50_rows"))
        .crossJoin(pct(99, "p99_rows"))
        .select(
            "n_keys",
            "n_rows",
            "max_rows",
            "p50_rows",
            "p99_rows",
            F.expr("max_rows * n_keys * 100 DIV n_rows").alias(
                "max_over_mean_pct"
            ),
        )
    )


@register(
    "q_kanonymity",
    oracle="""
WITH g AS (
  SELECT lang, source, COUNT(*) AS n_docs FROM documents
  GROUP BY lang, source
)
SELECT lang, source, n_docs,
       CAST(n_docs >= 5 AS BOOLEAN) AS k_safe
FROM g
""",
    doc="k-anonymity audit over quasi-identifier columns (the privacy "
    "gate that complements q_llm_pii_scrub's direct-identifier "
    "redaction): every (lang, source) equivalence class is counted "
    "and flagged when smaller than k=5 — a class below k means those "
    "documents are re-identifiable by their quasi-identifiers alone "
    "and must be generalized or suppressed before release.",
    scale_notes="One grouped count over the quasi-identifier tuple — "
    "cardinality bounded by the QI domain product, not the corpus. "
    "Generalization loops (coarsen QI, re-audit) repeat the same "
    "aggregate; nothing ever carries row payloads.",
)
def q_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "lang",
            "source",
            "n_docs",
            (F.col("n_docs") >= 5).alias("k_safe"),
        )
    )


@register(
    "q_ab_metrics",
    oracle="""
WITH arms AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS arm FROM events
  GROUP BY user_id
), conv AS (
  SELECT user_id,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS converted,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(ROUND(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS revenue_cents
  FROM events GROUP BY user_id
)
SELECT arms.arm AS arm,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(conv.converted) AS BIGINT) AS n_converted,
       -- CAST: DuckDB's SUM(BIGINT) is HUGEINT and HUGEINT // BIGINT
       -- reaches pandas as float64, while Spark's DIV yields bigint —
       -- the driver canonicalizer treats int64-vs-float64 as a
       -- schema/type mismatch (tools/audit_driver_typing.py)
       CAST(SUM(conv.converted) * 1000000 // COUNT(*) AS BIGINT)
         AS conv_ppm,
       CAST(SUM(conv.revenue_cents) AS BIGINT) AS revenue_cents
FROM arms JOIN conv USING (user_id)
GROUP BY arms.arm
""",
    doc="A/B experiment readout: users assigned to arms by id parity "
    "(the deterministic stand-in for an assignment service), per arm "
    "the user count, converters (>=1 purchase), conversion rate in "
    "integer ppm, and revenue in integer cents — the exact "
    "sufficient statistics a significance test consumes, with no "
    "float anywhere in the readout.",
    scale_notes="Per-user reduction first (one user_id shuffle over "
    "event rows), then a 2-row arm aggregate — the same "
    "reduce-before-join shape as q_cdc_upsert, so the arm summary "
    "never sees event volume. Sequential/ CUPED variants add columns, "
    "not passes.",
)
def q_ab_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    conv = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("converted"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        )
        .cast("bigint")
        .alias("revenue_cents"),
    )
    return (
        conv.withColumn("arm", (F.col("user_id") % 2).cast("int"))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("converted").cast("bigint").alias("n_converted"),
            F.expr("SUM(converted) * 1000000 DIV COUNT(*)").alias(
                "conv_ppm"
            ),
            F.sum("revenue_cents").cast("bigint").alias("revenue_cents"),
        )
    )


#: LTTB downsampling geometry: 6-hour buckets over seconds since the
#: fixture epoch (2024-01-01), values in integer cents.
_LTTB_EPOCH_S = 1704067200
_LTTB_BUCKET_S = 21600


@register(
    "q_time_downsample",
    oracle=f"""
WITH pts AS (
  SELECT user_id,
         epoch_us(ts) // 1000000 - {_LTTB_EPOCH_S} AS x,
         CAST(ROUND(value * 100) AS BIGINT) AS y,
         epoch_us(ts) AS ts_us
  FROM events
), b AS (
  SELECT *, x // {_LTTB_BUCKET_S} AS bucket FROM pts
), anchors AS (
  SELECT user_id, bucket,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM b GROUP BY user_id, bucket
), tri AS (
  SELECT b.user_id, b.bucket, b.ts_us, b.y,
         ABS(CAST(b.x * p.n - p.sx AS DECIMAL(38,0))
               * CAST(nx.sy * p.n - p.sy * nx.n AS DECIMAL(38,0))
             - CAST(b.y * p.n - p.sy AS DECIMAL(38,0))
               * CAST(nx.sx * p.n - p.sx * nx.n AS DECIMAL(38,0)))
           AS area2
  FROM b
  JOIN anchors p  ON p.user_id = b.user_id AND p.bucket = b.bucket - 1
  JOIN anchors nx ON nx.user_id = b.user_id AND nx.bucket = b.bucket + 1
)
SELECT user_id, bucket, ts_us, y AS value_cents
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                               ORDER BY area2 DESC, ts_us) AS rk
  FROM tri
) WHERE rk = 1
""",
    doc="Time-series downsampling, largest-triangle family (the "
    "published LTTB chart-decimation algorithm in its bucketed "
    "parallel form): per user and 6-hour bucket, keep the point "
    "maximizing the triangle area spanned with the NEIGHBOR BUCKETS' "
    "average points as anchors. Fixing anchors to bucket averages "
    "(instead of the previously-selected point) removes LTTB's "
    "sequential dependency, making every bucket independent — the "
    "standard distributed variant. The area comparison is exact: "
    "cross-product numerators over a common denominator in "
    "DECIMAL(38,0), integer-second x integer-cent coordinates, ties "
    "broken by earliest timestamp.",
    scale_notes="One shuffle to bucket anchors, self-joins on "
    "(user, bucket+-1) that reuse the same partitioning, and a "
    "per-bucket WindowGroupLimit argmax — no sequential pass, so a "
    "century of telemetry downsamples as one job. Edge buckets "
    "(missing a neighbor) are deliberately not emitted; production "
    "keeps them via min/max fallback anchors.",
)
def q_time_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        (
            F.expr("unix_micros(ts) div 1000000") - _LTTB_EPOCH_S
        ).alias("x"),
        F.round(F.col("value") * 100).cast("bigint").alias("y"),
        F.unix_micros("ts").alias("ts_us"),
    ).withColumn("bucket", F.expr(f"x div {_LTTB_BUCKET_S}"))
    anchors = pts.groupBy("user_id", "bucket").agg(
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    b = pts.alias("b")
    p = anchors.alias("p")
    nx = anchors.alias("nx")
    dec = "DECIMAL(38,0)"
    tri = (
        b.join(
            p,
            (F.col("p.user_id") == F.col("b.user_id"))
            & (F.col("p.bucket") == F.col("b.bucket") - 1),
        )
        .join(
            nx,
            (F.col("nx.user_id") == F.col("b.user_id"))
            & (F.col("nx.bucket") == F.col("b.bucket") + 1),
        )
        .select(
            F.col("b.user_id").alias("user_id"),
            F.col("b.bucket").alias("bucket"),
            F.col("b.ts_us").alias("ts_us"),
            F.col("b.y").alias("value_cents"),
            F.expr(
                f"ABS(CAST(b.x * p.n - p.sx AS {dec})"
                f"       * CAST(nx.sy * p.n - p.sy * nx.n AS {dec})"
                f"     - CAST(b.y * p.n - p.sy AS {dec})"
                f"       * CAST(nx.sx * p.n - p.sx * nx.n AS {dec}))"
            ).alias("area2"),
        )
    )
    w = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("area2").desc(), F.col("ts_us").asc()
    )
    return (
        tri.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "bucket", "ts_us", "value_cents")
    )


@register(
    "q_join_scd2_lookup",
    oracle="""
WITH ch AS (
  SELECT user_id, ts, event_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events WHERE event_type = 'view'
), changes AS (
  SELECT user_id, ts, event_id, value FROM ch
  WHERE prev IS NULL OR value <> prev
), scd AS (
  SELECT user_id, ts, value,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS INT)
           AS version,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS eff_to
  FROM changes
)
SELECT p.event_id AS purchase_id, p.user_id,
       epoch_us(p.ts) AS ts_us,
       s.version AS version,
       ROUND(s.value, 4) AS dim_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN scd s
  ON s.user_id = p.user_id AND s.ts <= p.ts
 AND (s.eff_to IS NULL OR p.ts < s.eff_to)
""",
    doc="Temporal dimension lookup against an SCD Type-2 build (the "
    "warehouse point-in-time join): every purchase resolves the "
    "dimension VERSION valid at its timestamp — eff_from <= ts < "
    "eff_to over the q_scd2_intervals change stream. The oracle is "
    "the literal interval-containment join; the Spark side is the "
    "scalable as-of formulation (tag + union + last-ignorenulls "
    "window over one user_id shuffle), which is provably the same "
    "relation because SCD2 intervals tile each user's timeline "
    "disjointly.",
    scale_notes="No interval join executes on the Spark side at all: "
    "the union + window form is one user_id shuffle over "
    "(changes + probes), immune to the range-join blowup a naive "
    "BETWEEN join has. This is the pattern a 100 TB SCD2 lookup "
    "should compile to; hot keys salt exactly as q_join_asof.",
)
def q_join_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w_ev = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.filter(F.col("event_type") == "view")
        .withColumn("prev", F.lag("value").over(w_ev))
        .filter(F.col("prev").isNull() | (F.col("value") != F.col("prev")))
        .select("user_id", "ts", "event_id", "value")
    )
    scd = changes.withColumn(
        "version", F.row_number().over(w_ev).cast("int")
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    tagged = scd.select(
        "user_id",
        "ts",
        F.lit(0).alias("is_probe"),
        "event_id",
        "version",
        "value",
    ).unionByName(
        probes.select(
            "user_id",
            "ts",
            F.lit(1).alias("is_probe"),
            "event_id",
            F.lit(None).cast("int").alias("version"),
            F.lit(None).cast("double").alias("value"),
        )
    )
    # At equal ts a change row sorts before the probe (is_probe), and
    # among equal-ts changes the later event_id wins — exactly the
    # non-empty interval under the oracle's [eff_from, eff_to) tiling.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn(
            "v", F.last("version", ignorenulls=True).over(w)
        )
        .withColumn("dv", F.last("value", ignorenulls=True).over(w))
        .filter(F.col("is_probe") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.col("v").alias("version"),
            F.round("dv", 4).alias("dim_value"),
        )
    )


#: Chi-square rejection threshold, 1 dof, alpha = 0.05 — the standard
#: sample-ratio-mismatch alarm level.
_SRM_CHI2_CRIT = 3.841


@register(
    "q_agg_ab_srm",
    oracle=f"""
WITH units AS (
  SELECT DISTINCT user_id,
         CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                        1, 4)) AS INT) % 2 = 0
              THEN 'A' ELSE 'B' END AS arm
  FROM events
), counts AS (
  SELECT COUNT(*) FILTER (WHERE arm = 'A') AS n_a,
         COUNT(*) FILTER (WHERE arm = 'B') AS n_b
  FROM units
)
SELECT n_a, n_b,
       ROUND(POW(n_a - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)
             + POW(n_b - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0), 4)
         AS chi2,
       (POW(n_a - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)
        + POW(n_b - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0))
         > {_SRM_CHI2_CRIT} AS srm_flag
FROM counts
""",
    doc="Sample-ratio-mismatch check (the Kohavi experimentation "
    "guardrail): units are distinct users deterministically hashed "
    "into arms A/B by md5 parity (the same engine-stable bucketing "
    "as q_sample_hash), the chi-square statistic against the "
    "declared 50/50 split is tested at alpha = 0.05 / 1 dof. A "
    "flagged SRM means the assignment pipeline is broken and every "
    "downstream metric (q_ab_metrics) is untrustworthy.",
    scale_notes="One distinct on user_id (the only shuffle) then a "
    "two-cell ledger; the chi-square is driver-free scalar algebra "
    "on one row. At 100 TB the distinct pre-aggregates map-side; "
    "assignment hashing is codegen'd and scan-parallel.",
)
def q_agg_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    arm = F.when(
        md5_prefix_int("user_id", 4).cast("int")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    units = ev.select("user_id").distinct().select(arm.alias("arm"))
    counts = units.agg(
        F.count(F.when(F.col("arm") == "A", F.lit(1))).alias("n_a"),
        F.count(F.when(F.col("arm") == "B", F.lit(1))).alias("n_b"),
    )
    exp = (F.col("n_a") + F.col("n_b")) / 2.0
    chi2 = (
        F.pow(F.col("n_a") - exp, 2) / exp
        + F.pow(F.col("n_b") - exp, 2) / exp
    )
    return counts.select(
        "n_a",
        "n_b",
        F.round(chi2, 4).alias("chi2"),
        (chi2 > _SRM_CHI2_CRIT).alias("srm_flag"),
    )


_CHECKSUM_MOD = 4611686018427387904  # 2^62: sum stays in signed-64 range


def _table_checksum(df: DataFrame, table: str, canon) -> DataFrame:
    """One (table, n_rows, sum_h, xor_h) fingerprint row: 60-bit
    md5-derived row hashes reduced by order-independent SUM-mod-2^62
    and XOR.  ``canon`` is the canonical-string Column (ints, strings
    and epoch/cents only — never raw float/timestamp rendering)."""
    h = md5_prefix_int(canon, 15)
    return (
        df.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("h").cast("decimal(20,0)")).alias("sum_raw"),
            F.expr("bit_xor(h)").alias("xor_h"),
        )
        .select(
            F.lit(table).alias("tbl"),
            "n_rows",
            (F.col("sum_raw") % _CHECKSUM_MOD)
            .cast("bigint")
            .alias("sum_h"),
            F.col("xor_h").cast("bigint").alias("xor_h"),
        )
    )


@register(
    "q_dq_checksum",
    oracle="""
WITH c AS (
  SELECT CAST('0x' || substr(md5(concat_ws('|',
           c_custkey, c_name, c_nationkey,
           CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR),
           c_mktsegment)), 1, 15) AS BIGINT) AS h
  FROM customer
), o AS (
  SELECT CAST('0x' || substr(md5(concat_ws('|',
           o_orderkey, o_custkey, o_orderstatus,
           CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR),
           CAST(epoch_us(o_orderdate) AS VARCHAR),
           o_orderpriority)), 1, 15) AS BIGINT) AS h
  FROM orders
), e AS (
  SELECT CAST('0x' || substr(md5(concat_ws('|',
           event_id, CAST(epoch_us(ts) AS VARCHAR), user_id, event_type,
           CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR),
           props)), 1, 15) AS BIGINT) AS h
  FROM events
), sums AS (
  SELECT 'customer' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(h AS HUGEINT)) % 4611686018427387904 AS BIGINT) AS sum_h,
         CAST(bit_xor(h) AS BIGINT) AS xor_h FROM c
  UNION ALL
  SELECT 'orders', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CAST(h AS HUGEINT)) % 4611686018427387904 AS BIGINT),
         CAST(bit_xor(h) AS BIGINT) FROM o
  UNION ALL
  SELECT 'events', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CAST(h AS HUGEINT)) % 4611686018427387904 AS BIGINT),
         CAST(bit_xor(h) AS BIGINT) FROM e
)
SELECT * FROM sums ORDER BY tbl
""",
    doc="Order-independent table fingerprints for cross-system "
    "reconciliation: per table, (row count, SUM mod 2^62, XOR) of "
    "a 60-bit md5 row hash over a CANONICAL row rendering — keys "
    "and strings verbatim, money as exact DECIMAL(18,2) cents, "
    "timestamps as epoch-us integers, never engine-native "
    "float/timestamp formatting. Two independent engines computing "
    "this checksum on copies of a dataset agree iff the contents "
    "match (the practical 100 TB replication audit, vastly cheaper "
    "than row-level diffing).",
    scale_notes="Embarrassingly parallel: row hashing is codegen'd "
    "JVM expressions, and both reducers (modular sum, xor) are "
    "commutative one-row aggregates with map-side partials — zero "
    "shuffle beyond the final single-row exchange per table. "
    "Row-order independence means partition layout, file order "
    "and cluster size can differ between the systems compared.",
)
def q_dq_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = lambda c: F.col(c).cast("decimal(18,2)").cast("decimal(20,2)") * 100  # noqa: E731
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    ev = read_table(spark, sf_dir, "events")
    c_canon = F.concat_ws(
        "|",
        F.col("c_custkey"),
        F.col("c_name"),
        F.col("c_nationkey"),
        cents("c_acctbal").cast("bigint").cast("string"),
        F.col("c_mktsegment"),
    )
    o_canon = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        cents("o_totalprice").cast("bigint").cast("string"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).cast("string"),
        F.col("o_orderpriority"),
    )
    e_canon = F.concat_ws(
        "|",
        F.col("event_id"),
        F.unix_micros("ts").cast("string"),
        F.col("user_id"),
        F.col("event_type"),
        cents("value").cast("bigint").cast("string"),
        F.col("props"),
    )
    return (
        _table_checksum(cust, "customer", c_canon)
        .unionByName(_table_checksum(orders, "orders", o_canon))
        .unionByName(_table_checksum(ev, "events", e_canon))
        .orderBy("tbl")
    )


@register(
    "q_ab_cuped",
    oracle="""
WITH split AS (
  SELECT MIN(ts) + INTERVAL 15 DAY AS cut FROM events
), per_user AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
         CAST(SUM(CASE WHEN ts < split.cut
                       THEN CAST(ROUND(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN ts >= split.cut
                       THEN CAST(ROUND(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
  FROM events CROSS JOIN split
  GROUP BY user_id
), pooled AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
  FROM per_user
), theta AS (
  SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS th,
         sx / n AS mean_x
  FROM pooled
), arm_m AS (
  SELECT arm, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
  FROM per_user GROUP BY arm
)
SELECT arm, CAST(n AS BIGINT) AS n_users,
       ROUND(sy / n / 100, 4) AS mean_y,
       ROUND((sy / n - theta.th * (sx / n - theta.mean_x)) / 100, 4)
         AS mean_y_cuped,
       ROUND(theta.th, 4) AS theta,
       ROUND(1 - ((syy / n - (sy / n) * (sy / n))
                  - 2 * theta.th * (sxy / n - (sx / n) * (sy / n))
                  + theta.th * theta.th
                    * (sxx / n - (sx / n) * (sx / n)))
               / (syy / n - (sy / n) * (sy / n)), 4)
         AS var_reduction
FROM arm_m CROSS JOIN theta ORDER BY arm
""",
    doc="CUPED variance reduction for the A/B readout: pre-period "
    "revenue (first 15 days) is the covariate, experiment-period "
    "revenue the metric; theta = cov(x,y)/var(x) POOLED across "
    "arms (the unbiased choice), each arm reports its raw and "
    "CUPED-adjusted mean plus the achieved variance reduction "
    "1 - var(y - theta x)/var(y) — the standard "
    "experimentation-platform sensitivity boost, here computed "
    "from exact per-user integer-cents moments in one pass over "
    "the user ledger.",
    scale_notes="Per-user reduction first (q_ab_metrics' shape), "
    "then two ledger aggregates (pooled + per-arm moments) and "
    "constant-size algebra; the 1-row split-date and theta frames "
    "are the q_filter_ts_cursor crossJoin pattern. Adds columns, "
    "not passes, to the A/B family — as promised in "
    "q_ab_metrics' scale notes.",
)
def q_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    split = ev.agg(
        (F.min("ts") + F.expr("INTERVAL 15 DAY")).alias("cut")
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    per_user = (
        ev.crossJoin(F.broadcast(split))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < F.col("cut"), cents).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(F.col("ts") >= F.col("cut"), cents).otherwise(0)
            )
            .cast("bigint")
            .alias("y"),
        )
        .select(
            (F.col("user_id") % 2).cast("int").alias("arm"), "x", "y"
        )
    )
    d = lambda c: F.col(c).cast("decimal(20,0)")  # noqa: E731
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(d("x")).cast("double").alias("sx"),
        F.sum(d("y")).cast("double").alias("sy"),
        F.sum(d("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(d("x") * F.col("y")).cast("double").alias("sxy"),
    )
    theta = pooled.select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("th"),
        (F.col("sx") / F.col("n")).alias("mean_x"),
    )
    arm_m = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(d("x")).cast("double").alias("sx"),
        F.sum(d("y")).cast("double").alias("sy"),
        F.sum(d("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(d("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(d("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    th, mx = F.col("th"), F.col("mean_x")
    var_y = syy / n - (sy / n) * (sy / n)
    cov = sxy / n - (sx / n) * (sy / n)
    var_x = sxx / n - (sx / n) * (sx / n)
    return (
        arm_m.crossJoin(F.broadcast(theta))
        .select(
            "arm",
            n.cast("bigint").alias("n_users"),
            F.round(sy / n / 100, 4).alias("mean_y"),
            F.round((sy / n - th * (sx / n - mx)) / 100, 4).alias(
                "mean_y_cuped"
            ),
            F.round(th, 4).alias("theta"),
            F.round(
                F.lit(1)
                - (var_y - 2 * th * cov + th * th * var_x) / var_y,
                4,
            ).alias("var_reduction"),
        )
        .orderBy("arm")
    )


_POWER_Z_ALPHA = 1.96   # two-sided alpha = 0.05
_POWER_Z_BETA = 0.8416  # power = 0.80
_POWER_MDE_REL = 0.10   # detect a 10% relative lift


@register(
    "q_ab_power",
    oracle=f"""
WITH conv AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS converted
  FROM events GROUP BY user_id, day
), base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(converted) AS BIGINT) AS n_conv,
         CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS p1
  FROM conv
)
SELECT n_units, n_conv, ROUND(p1, 4) AS p_base,
       ROUND(p1 * (1 + {_POWER_MDE_REL}), 4) AS p_target,
       CAST(CEIL(
         POW({_POWER_Z_ALPHA} + {_POWER_Z_BETA}, 2)
         * (p1 * (1 - p1)
            + (p1 * (1 + {_POWER_MDE_REL}))
              * (1 - p1 * (1 + {_POWER_MDE_REL})))
         / POW(p1 * {_POWER_MDE_REL}, 2)) AS BIGINT)
         AS n_required_per_arm,
       (CAST(n_units AS DOUBLE) / 2) >=
         CEIL(POW({_POWER_Z_ALPHA} + {_POWER_Z_BETA}, 2)
              * (p1 * (1 - p1)
                 + (p1 * (1 + {_POWER_MDE_REL}))
                   * (1 - p1 * (1 + {_POWER_MDE_REL})))
              / POW(p1 * {_POWER_MDE_REL}, 2)) AS powered
FROM base
""",
    doc="A/B test power analysis at the user-day grain (the unit a "
    "daily-exposure experiment randomizes; user-level conversion "
    "saturates at 1 in this fixture): from the observed baseline "
    "conversion rate, the two-proportion sample-size formula "
    "n = (z_a + z_b)^2 (p1 q1 + p2 q2) / (p2 - p1)^2 for a 10% "
    "relative MDE at alpha=0.05, power=0.80 — plus whether the "
    "CURRENT population split in half would already power the "
    "test. The planning companion to q_ab_metrics (readout), "
    "q_agg_ab_srm (validity) and q_ab_cuped (sensitivity).",
    scale_notes="One per-user reduction + a 1-row closed-form "
    "evaluation; the z constants are literals, every probability "
    "an exact count ratio. Nothing here grows with corpus size "
    "except the first shuffle.",
)
def q_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    conv = ev.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("converted")
    )
    base = conv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum("converted").cast("bigint").alias("n_conv"),
        (F.sum("converted").cast("double") / F.count(F.lit(1))).alias(
            "p1"
        ),
    )
    p1 = F.col("p1")
    p2 = p1 * (1 + _POWER_MDE_REL)
    n_req = F.ceil(
        F.pow(F.lit(_POWER_Z_ALPHA + _POWER_Z_BETA), 2)
        * (p1 * (1 - p1) + p2 * (1 - p2))
        / F.pow(p1 * _POWER_MDE_REL, 2)
    )
    return base.select(
        "n_units",
        "n_conv",
        F.round(p1, 4).alias("p_base"),
        F.round(p2, 4).alias("p_target"),
        n_req.cast("bigint").alias("n_required_per_arm"),
        ((F.col("n_units").cast("double") / 2) >= n_req).alias(
            "powered"
        ),
    )


@register(
    "q_cohort_ltv",
    oracle="""
WITH first AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_wk
  FROM events GROUP BY user_id
), size_ AS (
  SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM first GROUP BY cohort_wk
), rev AS (
  SELECT f.cohort_wk,
         CAST(date_diff('day', f.cohort_wk,
                        date_trunc('week', e.ts)) // 7 AS BIGINT) AS age,
         CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events e JOIN first f USING (user_id)
  GROUP BY f.cohort_wk, age
), cum AS (
  SELECT cohort_wk, age,
         CAST(SUM(cents) OVER (PARTITION BY cohort_wk ORDER BY age)
              AS BIGINT) AS cum_cents
  FROM rev
)
SELECT CAST(c.cohort_wk AS DATE) AS cohort_week, c.age,
       s.n_users,
       ROUND(c.cum_cents / 100.0, 2) AS cum_rev_dollars,
       ROUND(c.cum_cents / 100.0 / s.n_users, 4) AS ltv_per_user
FROM cum c JOIN size_ s USING (cohort_wk)
ORDER BY cohort_week, age
""",
    doc="Cohort LTV curves: users cohorted by first-event week "
    "(the q_cohort_retention cohort grain), revenue accumulated by "
    "week-age since acquisition, divided by cohort size — the "
    "lifetime-value readout that q_cohort_retention's presence "
    "matrix omits. Revenue is exact integer cents through the "
    "running sum; only the final per-user division floats.",
    scale_notes="The user_id shuffle assigns cohorts (shared with "
    "every other first-touch analytic), the (cohort, age) ledger "
    "is months^2-bounded whatever the corpus, and the running sum "
    "windows over that tiny ledger. Incremental refresh appends "
    "one age column per month — nothing recomputes.",
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_wk")
    )
    size = first.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    rev = (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_wk",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")), F.col("cohort_wk")
                )
                / 7
            )
            .cast("bigint")
            .alias("age"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = (
        Window.partitionBy("cohort_wk")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.withColumn(
            "cum_cents", F.sum("cents").over(w).cast("bigint")
        )
        .join(size, "cohort_wk")
        .select(
            F.col("cohort_wk").cast("date").alias("cohort_week"),
            "age",
            "n_users",
            F.round(F.col("cum_cents") / 100.0, 2).alias(
                "cum_rev_dollars"
            ),
            F.round(
                F.col("cum_cents") / 100.0 / F.col("n_users"), 4
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort_week", "age")
    )


@register(
    "q_ldiversity",
    oracle="""
WITH de AS (
  SELECT d.lang, d.source, e.label
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
), cell AS (
  SELECT lang, source, label, CAST(COUNT(*) AS BIGINT) AS c
  FROM de GROUP BY lang, source, label
), grp AS (
  SELECT lang, source, CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS l_distinct
  FROM cell GROUP BY lang, source
), gl AS (
  SELECT label, CAST(SUM(c) AS BIGINT) AS gc,
         CAST(SUM(SUM(c)) OVER () AS BIGINT) AS nt
  FROM cell GROUP BY label
), m AS (
  SELECT cell.lang, cell.source, grp.n, grp.l_distinct,
         SUM(CAST(ROUND(-(CAST(cell.c AS DOUBLE) / grp.n)
                        * LN(CAST(cell.c AS DOUBLE) / grp.n), 8)
                  AS DECIMAL(18,8))) AS h,
         SUM(CAST(ROUND(ABS(CAST(cell.c AS DOUBLE) / grp.n
                            - CAST(gl.gc AS DOUBLE) / gl.nt), 8)
                  AS DECIMAL(18,8))) AS tv_present
  FROM cell
  JOIN grp ON grp.lang = cell.lang AND grp.source = cell.source
  JOIN gl ON gl.label = cell.label
  GROUP BY cell.lang, cell.source, grp.n, grp.l_distinct
), miss AS (
  SELECT grp.lang, grp.source,
         SUM(CAST(ROUND(CAST(gl.gc AS DOUBLE) / gl.nt, 8)
                  AS DECIMAL(18,8))) AS tv_missing
  FROM grp CROSS JOIN gl
  LEFT JOIN cell ON cell.lang = grp.lang AND cell.source = grp.source
                AND cell.label = gl.label
  WHERE cell.label IS NULL
  GROUP BY grp.lang, grp.source
)
SELECT m.lang, m.source, m.n AS n_docs, m.l_distinct,
       CAST(m.l_distinct >= 3 AS BOOLEAN) AS l_safe,
       ROUND(EXP(CAST(m.h AS DOUBLE)), 4) AS entropy_l,
       ROUND(0.5 * CAST(m.tv_present
                        + COALESCE(miss.tv_missing, 0) AS DOUBLE), 4)
         AS t_closeness
FROM m LEFT JOIN miss ON miss.lang = m.lang AND miss.source = m.source
ORDER BY m.lang, m.source
""",
    doc="l-diversity + t-closeness privacy audit (Machanavajjhala "
    "2007 / Li 2007), extending q_kanonymity's class-size gate to "
    "the SENSITIVE-attribute distribution: per (lang, source) "
    "quasi-identifier class over the joined sensitive label "
    "(embeddings.label via vec_id = doc_id), reports distinct-l, "
    "the l>=3 flag, entropy-l (exp of the label entropy — the "
    "effective number of well-represented sensitive values), and "
    "t-closeness (total-variation distance between the class's "
    "label distribution and the corpus-wide one, absent labels "
    "contributing their global mass). A class can pass k-anonymity "
    "yet fail here when all its members share one label. Entropy "
    "and TV terms are ROUND-8 DECIMAL-summed (order-independent).",
    scale_notes="Everything reduces at the (QI, label) ledger — "
    "cardinality bounded by the QI-domain x label product, never "
    "corpus-sized. The missing-label completion is a QI x label "
    "grid built from two broadcast-size ledgers (the q_agg_chisq "
    "zero-cell pattern). Generalization loops re-run the same "
    "ledger pass.",
)
def q_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    de = docs.join(
        emb.select(F.col("vec_id").alias("doc_id"), "label"), "doc_id"
    ).select("lang", "source", "label")
    cell = de.groupBy("lang", "source", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    grp = cell.groupBy("lang", "source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("l_distinct"),
    )
    glob = cell.groupBy("label").agg(
        F.sum("c").cast("bigint").alias("gc")
    )
    nt = glob.agg(F.sum("gc").cast("bigint").alias("nt"))
    glob = glob.crossJoin(F.broadcast(nt))
    p = F.col("c").cast("double") / F.col("n")
    gp = F.col("gc").cast("double") / F.col("nt")
    h_term = F.round(-p * F.log(p), 8).cast("decimal(18,8)")
    tv_term = F.round(F.abs(p - gp), 8).cast("decimal(18,8)")
    m = (
        cell.join(grp, ["lang", "source"])
        .join(F.broadcast(glob), "label")
        .groupBy("lang", "source", "n", "l_distinct")
        .agg(
            F.sum(h_term).alias("h"),
            F.sum(tv_term).alias("tv_present"),
        )
    )
    miss = (
        grp.crossJoin(F.broadcast(glob))
        .join(cell, ["lang", "source", "label"], "left_anti")
        .groupBy("lang", "source")
        .agg(
            F.sum(F.round(gp, 8).cast("decimal(18,8)")).alias(
                "tv_missing"
            )
        )
    )
    return (
        m.join(miss, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            F.col("n").alias("n_docs"),
            "l_distinct",
            (F.col("l_distinct") >= 3).alias("l_safe"),
            F.round(F.exp(F.col("h").cast("double")), 4).alias(
                "entropy_l"
            ),
            F.round(
                0.5
                * (
                    F.col("tv_present")
                    + F.coalesce(
                        F.col("tv_missing"),
                        F.lit(0).cast("decimal(18,8)"),
                    )
                ).cast("double"),
                4,
            ).alias("t_closeness"),
        )
        .orderBy("lang", "source")
    )


_PVM_SPLIT = "2024-01-16"


@register(
    "q_event_pvm_decomp",
    oracle=f"""
WITH p AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '{_PVM_SPLIT}'
                       THEN CAST(ROUND(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS rev0,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '{_PVM_SPLIT}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS vol0,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_PVM_SPLIT}'
                       THEN CAST(ROUND(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS rev1,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_PVM_SPLIT}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS vol1
  FROM events GROUP BY event_type
), r AS (
  SELECT event_type, rev0, vol0, rev1, vol1,
         -- integer half-up dollars x 1e4 rates: round(100*rev/vol)
         (200 * rev0 + vol0) // (2 * vol0) AS rate0_x4,
         (200 * rev1 + vol1) // (2 * vol1) AS rate1_x4
  FROM p WHERE vol0 > 0 AND vol1 > 0
)
SELECT event_type,
       CAST(ROUND(rev0 / 100.0, 2) AS DOUBLE) AS rev0_dollars,
       CAST(ROUND(rev1 / 100.0, 2) AS DOUBLE) AS rev1_dollars,
       CAST(ROUND((rev1 - rev0) / 100.0, 2) AS DOUBLE) AS delta_dollars,
       CAST((vol1 - vol0) * rate0_x4 AS DOUBLE) / 10000 AS volume_effect,
       CAST(vol0 * (rate1_x4 - rate0_x4) AS DOUBLE) / 10000
         AS rate_effect,
       CAST((vol1 - vol0) * (rate1_x4 - rate0_x4) AS DOUBLE) / 10000
         AS cross_effect
FROM r ORDER BY event_type
""",
    doc="Price-volume-mix revenue bridge per event type between the "
    f"two halves of the window (split {_PVM_SPLIT}): delta = "
    "volume effect (dVol x rate0) + rate effect (vol0 x dRate) + "
    "cross term — the standard FP&A decomposition of WHY revenue "
    "moved, complementing q_time_changepoint's WHEN. Rates are "
    "integer-half-up rounded to 1e-4 dollars BEFORE the effect "
    "products, so every emitted effect is an exact integer/10^4 — "
    "no cross-engine double-rounding surface anywhere (the "
    "q_time_changepoint mean_x4 trick applied to a bridge).",
    scale_notes="One conditional map-combined aggregate to a "
    "types-row ledger; all bridge arithmetic on the ledger. "
    "Extending to (type x region x month) mix terms keeps the same "
    "single-shuffle shape with a dims-product ledger.",
)
def q_event_pvm_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    split = F.lit(_PVM_SPLIT).cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("bigint")
    pre = F.col("ts") < split
    p = ev.groupBy("event_type").agg(
        F.sum(F.when(pre, cents).otherwise(0)).cast("bigint").alias("rev0"),
        F.sum(F.when(pre, 1).otherwise(0)).cast("bigint").alias("vol0"),
        F.sum(F.when(~pre, cents).otherwise(0))
        .cast("bigint")
        .alias("rev1"),
        F.sum(F.when(~pre, 1).otherwise(0)).cast("bigint").alias("vol1"),
    )
    r = p.filter((F.col("vol0") > 0) & (F.col("vol1") > 0)).withColumns(
        {
            "rate0_x4": F.expr("(200 * rev0 + vol0) div (2 * vol0)"),
            "rate1_x4": F.expr("(200 * rev1 + vol1) div (2 * vol1)"),
        }
    )
    return r.select(
        "event_type",
        F.round(F.col("rev0") / 100.0, 2).alias("rev0_dollars"),
        F.round(F.col("rev1") / 100.0, 2).alias("rev1_dollars"),
        F.round((F.col("rev1") - F.col("rev0")) / 100.0, 2).alias(
            "delta_dollars"
        ),
        (
            ((F.col("vol1") - F.col("vol0")) * F.col("rate0_x4")).cast(
                "double"
            )
            / 10000
        ).alias("volume_effect"),
        (
            (F.col("vol0") * (F.col("rate1_x4") - F.col("rate0_x4"))).cast(
                "double"
            )
            / 10000
        ).alias("rate_effect"),
        (
            (
                (F.col("vol1") - F.col("vol0"))
                * (F.col("rate1_x4") - F.col("rate0_x4"))
            ).cast("double")
            / 10000
        ).alias("cross_effect"),
    ).orderBy("event_type")


#: Bitemporal constants: valid-time cut V, and two transaction-time
#: ("as database knew it") cuts K1 < K2 bracketing the late-arriving
#: corrections fabricated below.
_BT_V = "2024-01-15"
_BT_K1 = "2024-01-16"
_BT_K2 = "2024-01-20"


@register(
    "q_join_bitemporal",
    oracle=f"""
WITH bt AS (
  SELECT user_id, ts, value, event_id,
         ts + INTERVAL ((event_id % 3)) DAY AS txn_ts
  FROM events WHERE event_type = 'purchase'
), k1 AS (
  SELECT user_id, value FROM (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM bt WHERE ts <= TIMESTAMP '{_BT_V}'
                AND txn_ts <= TIMESTAMP '{_BT_K1}') t
  WHERE rn = 1
), k2 AS (
  SELECT user_id, value FROM (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM bt WHERE ts <= TIMESTAMP '{_BT_V}'
                AND txn_ts <= TIMESTAMP '{_BT_K2}') t
  WHERE rn = 1
)
SELECT k2.user_id,
       ROUND(k1.value, 2) AS value_asof_k1,
       ROUND(k2.value, 2) AS value_asof_k2,
       (k1.user_id IS NULL OR k1.value <> k2.value) AS restated
FROM k2 LEFT JOIN k1 ON k1.user_id = k2.user_id
ORDER BY k2.user_id
""",
    doc="Bitemporal point query (valid time x transaction time, the "
    "Snodgrass/SQL:2011 pattern): purchase facts carry a fabricated "
    "load timestamp txn_ts = ts + (event_id % 3) days (late-arriving "
    "corrections), and the query answers 'what was each user's "
    f"latest purchase effective at {_BT_V}' AS THE DATABASE KNEW IT "
    f"at two load cuts ({_BT_K1} vs {_BT_K2}) — rows where the two "
    "answers differ are RESTATEMENTS, the reproducibility audit "
    "q_scd2_intervals' single (valid-time) axis cannot express: a "
    "report re-run later silently changes unless it pins both "
    "times.",
    scale_notes="Each cut is one user_id window pass over the "
    "doubly-filtered fact scan (both time predicates push down); "
    "the two cuts share the scan via exchange reuse. At 100 TB "
    "txn_ts is the ingest partition column, so the as-known cut is "
    "partition pruning, not a filter.",
)
def q_join_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    bt = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "value",
        "event_id",
        (
            F.col("ts")
            + F.make_interval(days=(F.col("event_id") % 3).cast("int"))
        ).alias("txn_ts"),
    )
    v_cut = F.lit(_BT_V).cast("timestamp")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def asof(k: str) -> DataFrame:
        return (
            bt.filter(
                (F.col("ts") <= v_cut)
                & (F.col("txn_ts") <= F.lit(k).cast("timestamp"))
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "value")
        )

    k1 = asof(_BT_K1).withColumnRenamed("value", "v1")
    k2 = asof(_BT_K2).withColumnRenamed("value", "v2")
    return (
        k2.join(k1, "user_id", "left")
        .select(
            "user_id",
            F.round("v1", 2).alias("value_asof_k1"),
            F.round("v2", 2).alias("value_asof_k2"),
            (
                F.col("v1").isNull() | (F.col("v1") != F.col("v2"))
            ).alias("restated"),
        )
        .orderBy("user_id")
    )
