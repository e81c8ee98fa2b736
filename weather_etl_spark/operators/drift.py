"""Distributional diagnostics and resampling (SURVEY.md §2 B.12,
round 6 third batch): concentration, drift, co-occurrence, temporal
structure, and OHLC downsampling — the monitoring layer a production
pipeline runs over the reference's landed observations
(lambda_function.py:151-175) to notice when the data changes shape.

- q_agg_gini: Gini concentration coefficient of order revenue per
  priority class (the inequality metric, exact integer-cents form);
- q_agg_ks_test: two-sample Kolmogorov-Smirnov statistic between the
  view and purchase value distributions — the standard drift detector;
- q_time_resample_ohlc: open/high/low/close + volume per
  (event_type, hour) — candlestick downsampling with deterministic
  struct-ordered endpoints;
- q_event_cooccurrence: PMI of event-type pairs over per-user
  presence sets (order-free complement of q_event_transitions);
- q_agg_autocorr: lag-1 autocorrelation of the value series per
  event type — the "is this a random walk" diagnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_etl_spark.functions.exact import (
    decimal_mean_round4_sql,
    md5_prefix_int,
    ratio_round4_sql,
    signed_ratio_round_sql,
)
from weather_etl_spark.io import read_table
from weather_etl_spark.registry import register


@register(
    "q_agg_gini",
    oracle="""
WITH cents AS (
  SELECT o_orderpriority,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
         o_orderkey
  FROM orders
), ranked AS (
  SELECT o_orderpriority, x,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY x, o_orderkey) AS i
  FROM cents
)
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(x) AS BIGINT) AS total_cents,
       ROUND(2.0 * SUM(CAST(i AS HUGEINT) * x)
               / (COUNT(*) * CAST(SUM(x) AS HUGEINT))
             - (COUNT(*) + 1.0) / COUNT(*), 4) AS gini
FROM ranked GROUP BY o_orderpriority
""",
    doc="Gini coefficient of revenue concentration per order "
    "priority: G = 2 sum(i * x_i) / (n * sum x) - (n+1)/n over the "
    "ascending-sorted integer-cent totals (rank ties broken by "
    "orderkey — equal values contribute identically under any tie "
    "order, so the statistic is deterministic). 0 = perfectly even "
    "revenue, 1 = one order carries everything.",
    scale_notes="One shuffle on the priority key, per-partition sort "
    "for the rank, integer-exact accumulators (int128 for i*x). At "
    "100 TB per-group sorts salt into value-range buckets with "
    "rank offsets from the bounded bucket ledger — the "
    "q_llm_token_budget decomposition, since rank is just a prefix "
    "count.",
)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = read_table(spark, sf_dir, "orders")
    cents = od.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_orderpriority").orderBy("x", "o_orderkey")
    ranked = cents.withColumn("i", F.row_number().over(w))
    n = F.count(F.lit(1))
    tot = F.sum("x")
    return ranked.groupBy("o_orderpriority").agg(
        n.alias("n"),
        tot.cast("bigint").alias("total_cents"),
        F.round(
            2.0
            * F.sum(F.col("i").cast("decimal(38,0)") * F.col("x")).cast(
                "double"
            )
            / (n * tot.cast("double"))
            - (n + F.lit(1.0)) / n,
            4,
        ).alias("gini"),
    )


#: KS rejection threshold coefficient for alpha = 0.05.
_KS_C_ALPHA = 1.358


@register(
    "q_agg_ks_test",
    oracle=f"""
WITH tagged AS (
  SELECT value, CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS a,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
  FROM events WHERE event_type IN ('view', 'purchase')
), cum AS (
  SELECT value,
         SUM(a) OVER (ORDER BY value
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(b) OVER (ORDER BY value
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
         SUM(a) OVER () AS na, SUM(b) OVER () AS nb
  FROM tagged
)
SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
       {signed_ratio_round_sql('CAST(MAX(abs(ca * nb - cb * na)) AS BIGINT)',
                               'CAST(MAX(na) * MAX(nb) AS BIGINT)',
                               4, '//')} AS ks_d,
       MAX(abs(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb))
         > {_KS_C_ALPHA} * sqrt((MAX(na) + MAX(nb))
                                / (CAST(MAX(na) AS DOUBLE) * MAX(nb)))
         AS reject_05
FROM cum
""",
    doc="Two-sample Kolmogorov-Smirnov drift test between the view "
    "and purchase value distributions: D = max |F_view(x) - "
    "F_purchase(x)| over the pooled values, ECDFs evaluated "
    "peers-inclusively (RANGE frames) so ties are handled "
    f"identically in both engines; reject_05 applies the classic "
    f"{_KS_C_ALPHA} sqrt((m+n)/mn) large-sample threshold. THE "
    "standard detector for 'did this feature's distribution move "
    "between snapshots'.",
    scale_notes="The ECDF prefix sums use one value-ordered window; "
    "at 100 TB bin values into the bounded-ledger form (ECDF at bin "
    "edges bounds D within one bin mass) exactly like "
    "q_llm_token_budget — the exact form here is that rewrite's "
    "oracle. Integer counts, one final 1-row reduce.",
)
def q_agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    tagged = ev.filter(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "value",
        (F.col("event_type") == "view").cast("int").alias("a"),
        (F.col("event_type") == "purchase").cast("int").alias("b"),
    )
    w_cum = Window.orderBy("value").rangeBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    cum = tagged.select(
        F.sum("a").over(w_cum).alias("ca"),
        F.sum("b").over(w_cum).alias("cb"),
        F.sum("a").over(w_all).alias("na"),
        F.sum("b").over(w_all).alias("nb"),
    )
    diff = F.abs(
        F.col("ca").cast("double") / F.col("na")
        - F.col("cb").cast("double") / F.col("nb")
    )
    # ks_d via the shared common denominator na*nb: the max of
    # |ca/na - cb/nb| is max|ca*nb - cb*na| / (na*nb), a pure rational
    # (rule-8 batch-2 sweep; exact while na*nb < 2^63 — beyond ~3e9
    # samples per side, run the test on a sample).
    return cum.agg(
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
        F.expr(
            signed_ratio_round_sql(
                "CAST(max(abs(ca * nb - cb * na)) AS BIGINT)",
                "CAST(max(na) * max(nb) AS BIGINT)", 4, "div",
            )
        ).alias("ks_d"),
        (
            F.max(diff)
            > _KS_C_ALPHA
            * F.sqrt(
                (F.max("na") + F.max("nb"))
                / (F.max("na").cast("double") * F.max("nb"))
            )
        ).alias("reject_05"),
    )


@register(
    "q_time_resample_ohlc",
    oracle="""
SELECT event_type,
       CAST(date_trunc('hour', ts) AS DATE) AS day,
       hour(ts) AS hr,
       ROUND(arg_min(value, CAST(epoch_us(ts) AS HUGEINT)
                            * 18446744073709551616 + event_id), 4) AS open,
       ROUND(MAX(value), 4) AS high,
       ROUND(MIN(value), 4) AS low,
       ROUND(arg_max(value, CAST(epoch_us(ts) AS HUGEINT)
                            * 18446744073709551616 + event_id), 4) AS close,
       COUNT(*) AS volume
FROM events
GROUP BY event_type, CAST(date_trunc('hour', ts) AS DATE), hour(ts)
""",
    doc="OHLC (candlestick) resampling: per event type and hour "
    "bucket the first observed value (open), extremes (high/low), "
    "last value (close), and observation count (volume) — the "
    "canonical time-series downsample for dashboards and feature "
    "windows. Endpoints are argmin/argmax over (timestamp, event_id) "
    "so bucket boundaries are deterministic; Spark orders by struct, "
    "the oracle by the equivalent int128 encoding "
    "(the q_agg_minmax_by pattern).",
    scale_notes="Single two-phase aggregate: partials carry one "
    "(open, high, low, close, count) tuple per bucket per mapper — "
    "the same shuffle shape as MAX, no window, no sort. Bucket "
    "count, not event count, bounds everything after the scan.",
)
def q_time_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    key = F.struct(
        F.unix_micros("ts").alias("us"), F.col("event_id").alias("id")
    )
    return (
        ev.groupBy(
            "event_type",
            F.to_date(F.date_trunc("hour", "ts")).alias("day"),
            F.hour("ts").alias("hr"),
        )
        .agg(
            F.round(F.min_by("value", key), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", key), 4).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
    )


@register(
    "q_event_cooccurrence",
    oracle="""
WITH pres AS (
  SELECT DISTINCT user_id, event_type FROM events
), totals AS (
  SELECT event_type, COUNT(*) AS n_t FROM pres GROUP BY event_type
), universe AS (
  SELECT COUNT(DISTINCT user_id) AS n_users FROM pres
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n_both
  FROM pres a JOIN pres b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT type_a, type_b, n_both, ta.n_t AS n_a, tb.n_t AS n_b,
       ROUND(ln(CAST(n_both AS DOUBLE) * n_users
                / (CAST(ta.n_t AS HUGEINT) * tb.n_t)), 4) + 0.0 AS pmi
FROM pairs
JOIN totals ta ON ta.event_type = type_a
JOIN totals tb ON tb.event_type = type_b
CROSS JOIN universe
""",
    doc="Pointwise mutual information of event-type pairs over "
    "per-user presence sets: PMI = ln(p(a,b) / (p(a) p(b))) with "
    "probabilities over users — positive when two behaviors attract "
    "(users who do one do the other), negative when they repel. The "
    "order-free complement of q_event_transitions, and the core "
    "statistic of co-occurrence embedding methods.",
    scale_notes="The presence-set distinct is the only event-scale "
    "shuffle; the self-join then touches <=|types| rows per user "
    "(bounded fan-out, not a pair explosion) and the pair/total "
    "ledgers are |types|-sized. The 1-row user count broadcasts via "
    "the q_filter_ts_cursor pattern.",
)
def q_event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    pres = ev.select("user_id", "event_type").distinct()
    totals = pres.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    universe = pres.agg(
        F.countDistinct("user_id").alias("n_users")
    )
    a = pres.select("user_id", F.col("event_type").alias("type_a"))
    b = pres.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ta = totals.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a")
    )
    tb = totals.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b")
    )
    return (
        pairs.join(ta, "type_a")
        .join(tb, "type_b")
        .crossJoin(F.broadcast(universe))
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            (
                F.round(
                    F.log(
                        F.col("n_both").cast("double")
                        * F.col("n_users")
                        / (
                            F.col("n_a").cast("double")
                            * F.col("n_b").cast("double")
                        )
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("pmi"),
        )
    )


@register(
    "q_agg_autocorr",
    oracle="""
WITH lagged AS (
  SELECT event_type, value,
         lag(value) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT event_type,
       COUNT(prev) AS n_pairs,
       ROUND(corr(value, prev), 4) + 0.0 AS autocorr_lag1
FROM lagged WHERE prev IS NOT NULL
GROUP BY event_type
""",
    doc="Lag-1 autocorrelation of the value series per event type: "
    "Pearson correlation between consecutive observations in time "
    "order — near 0 for independent draws (this fixture), near 1 "
    "for a random walk; the first diagnostic before fitting any "
    "time-series model, and the memo for why q_time_anomaly may "
    "assume exchangeable history.",
    scale_notes="One event_type shuffle serves both the lag window "
    "and the corr aggregate (corr is algebraic, map-side "
    "combinable). Identical salting recipe to q_time_anomaly for "
    "the low-cardinality key.",
)
def q_agg_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_type", "value", F.lag("value").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    return lagged.groupBy("event_type").agg(
        F.count("prev").alias("n_pairs"),
        (F.round(F.corr("value", "prev"), 4) + F.lit(0.0)).alias(
            "autocorr_lag1"
        ),
    )


@register(
    "q_agg_pareto",
    oracle="""
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT o_custkey, cents,
         SUM(cents) OVER (ORDER BY cents DESC, o_custkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cents) OVER () AS total,
         row_number() OVER (ORDER BY cents DESC, o_custkey) AS rk
  FROM rev
)
SELECT o_custkey, cents, CAST(cum AS BIGINT) AS cum_cents, rk
FROM ranked WHERE 5 * (cum - cents) < 4 * total
""",
    doc="Pareto (80/20) coverage set: the minimal prefix of customers "
    "— ranked by revenue, custkey tie-break — whose cumulative "
    "revenue reaches 80% of the total; the crossing customer is "
    "included (selection rule 5*(cum - own) < 4*total is "
    "integer-exact in cents, so no float boundary can flip a row). "
    "The ABC-analysis primitive behind every concentration report.",
    scale_notes="Events reduce to the customer-dim revenue ledger "
    "first (map-side combined), so the ranking window runs at "
    "dim scale. At 1e9 customers the identical bin-ledger rewrite "
    "as q_llm_token_budget applies: revenue bins are monotone in "
    "rank, per-bin prefix sums run partition-parallel.",
)
def q_agg_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = read_table(spark, sf_dir, "orders")
    rev = od.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy(F.desc("cents"), F.asc("o_custkey"))
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    ranked = rev.select(
        "o_custkey",
        "cents",
        F.sum("cents").over(w_cum).alias("cum"),
        F.sum("cents").over(Window.partitionBy()).alias("total"),
        F.row_number().over(w).alias("rk"),
    )
    return ranked.filter(
        5 * (F.col("cum") - F.col("cents")) < 4 * F.col("total")
    ).select(
        "o_custkey", "cents", F.col("cum").cast("bigint").alias("cum_cents"),
        "rk",
    )


_BURST_FACTOR = 3.0
_BURST_MIN_HIST = 6


@register(
    "q_event_bursts",
    oracle=f"""
WITH buckets AS (
  SELECT event_type,
         CAST(epoch_us(date_trunc('hour', ts)) // 3600000000 AS BIGINT)
           AS bucket_id,
         COUNT(*) AS c
  FROM events GROUP BY event_type, bucket_id
), scored AS (
  SELECT event_type, bucket_id, c,
         CAST(sum(c) OVER w AS BIGINT) AS s_hist,
         count(c) OVER w AS n_hist
  FROM buckets
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_id
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, bucket_id, CAST(c AS BIGINT) AS n_events,
       {signed_ratio_round_sql('s_hist', 'n_hist', 4, '//')} AS baseline,
       {signed_ratio_round_sql('c * n_hist', 's_hist', 4, '//')} AS burst_ratio,
       c * n_hist > {_BURST_FACTOR} * s_hist AS is_burst
FROM scored WHERE n_hist >= {_BURST_MIN_HIST}
""",
    doc="Burst detection on event RATES (the volume complement of "
    "q_time_anomaly's value z-scores): hourly event counts per type "
    "are compared against the mean of the trailing 24 observed "
    "hourly buckets; a bucket running at more than "
    f"{_BURST_FACTOR}x its baseline is flagged. Bucket identity is "
    "the integer epoch-hour, so the output is dtype-portable and "
    "gap-robust (the frame is the previous 24 OBSERVED buckets).",
    scale_notes="Events compress to (type, hour) counts map-side "
    "before any shuffle — the window then runs over the bounded "
    "bucket ledger (8,760 rows per type per year), never raw "
    "events. Monitoring at 100 TB is exactly this: aggregate first, "
    "window the ledger.",
)
def q_event_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    buckets = ev.groupBy(
        "event_type",
        (F.unix_micros(F.date_trunc("hour", "ts")) / 3600000000)
        .cast("bigint")
        .alias("bucket_id"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_id")
        .rowsBetween(-24, -1)
    )
    scored = buckets.select(
        "event_type",
        "bucket_id",
        "c",
        F.sum("c").over(w).cast("bigint").alias("s_hist"),
        F.count("c").over(w).alias("n_hist"),
    )
    # exact integer half-up (rule-8 batch-2 sweep): the trailing-mean
    # baseline and the burst ratio are pure rationals of hourly counts
    # (c/baseline = c*n_hist/s_hist); the burst predicate compares in
    # integers so the threshold never shifts with fp rounding.
    return scored.filter(F.col("n_hist") >= _BURST_MIN_HIST).select(
        "event_type",
        "bucket_id",
        F.col("c").cast("bigint").alias("n_events"),
        F.expr(
            signed_ratio_round_sql("s_hist", "n_hist", 4, "div")
        ).alias("baseline"),
        F.expr(
            signed_ratio_round_sql("c * n_hist", "s_hist", 4, "div")
        ).alias("burst_ratio"),
        (F.col("c") * F.col("n_hist") > _BURST_FACTOR * F.col("s_hist"))
        .alias("is_burst"),
    )


@register(
    "q_agg_benford",
    oracle="""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
), counted AS (
  SELECT digit, COUNT(*) AS n_obs FROM digits GROUP BY digit
), tot AS (
  SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM counted
)
SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
       ROUND(log10(1.0 + 1.0 / digit) * n, 4) AS expected,
       ROUND((n_obs - log10(1.0 + 1.0 / digit) * n)
             * (n_obs - log10(1.0 + 1.0 / digit) * n)
             / (log10(1.0 + 1.0 / digit) * n), 4) AS chi2_term
FROM counted CROSS JOIN tot
""",
    doc="Benford's-law first-digit audit of order totals (the "
    "forensic data-quality check for fabricated or truncated "
    "numeric columns): observed leading-digit counts against the "
    "log10(1 + 1/d) expectation, with per-digit chi-square "
    "contributions — large terms point at the digits where the "
    "distribution deviates.",
    scale_notes="The digit extraction is a zero-shuffle projection; "
    "the aggregate is a 9-row ledger crossed with a 1-row total "
    "(q_filter_ts_cursor broadcast pattern). Scan-bound.",
)
def q_agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = read_table(spark, sf_dir, "orders")
    digit = (
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
    ).cast("int")
    counted = (
        od.filter(F.col("o_totalprice") >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = counted.agg(F.sum("n_obs").cast("bigint").alias("n"))
    expected = F.log10(1.0 + 1.0 / F.col("digit")) * F.col("n")
    return (
        counted.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n_obs").cast("bigint").alias("n_obs"),
            F.round(expected, 4).alias("expected"),
            F.round(
                (F.col("n_obs") - expected)
                * (F.col("n_obs") - expected)
                / expected,
                4,
            ).alias("chi2_term"),
        )
    )


@register(
    "q_time_seasonal",
    oracle="""
WITH s AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hod,
         CAST(ROUND(value * 100) AS BIGINT) AS v2
  FROM events
), hodagg AS (
  SELECT event_type, hod, COUNT(*) AS n, CAST(SUM(v2) AS BIGINT) AS sv2
  FROM s GROUP BY event_type, hod
), tot AS (
  SELECT event_type, CAST(SUM(sv2) AS BIGINT) AS ts2,
         CAST(SUM(n) AS BIGINT) AS tn
  FROM hodagg GROUP BY event_type
)
SELECT h.event_type, h.hod, h.n,
       CAST(CASE WHEN h.sv2 >= 0
                 THEN (200 * h.sv2 + h.n) // (2 * h.n)
                 ELSE -((200 * -h.sv2 + h.n) // (2 * h.n)) END
            AS DOUBLE) / 10000
         AS hod_mean,
       CAST(CASE WHEN h.sv2 * t.tn - t.ts2 * h.n >= 0
                 THEN (200 * (h.sv2 * t.tn - t.ts2 * h.n) + h.n * t.tn)
                      // (2 * h.n * t.tn)
                 ELSE -((200 * (t.ts2 * h.n - h.sv2 * t.tn) + h.n * t.tn)
                        // (2 * h.n * t.tn)) END AS DOUBLE) / 10000
         AS seasonal_idx
FROM hodagg h JOIN tot t USING (event_type)
""",
    doc="Hour-of-day seasonal profile (the additive-decomposition "
    "seasonal component): per (event_type, hour 0-23), the bucket "
    "mean and its deviation from the type's overall mean — the "
    "diurnal signature monitoring compares against q_time_ewma's "
    "trend and q_time_anomaly's residuals. values are integer cents "
    "by construction, so BOTH means round through exact integer "
    "half-away arithmetic ((200*sum + n) // (2n) at 4 decimals) — "
    "no double ROUND ever runs, eliminating the cross-engine "
    "rounding-boundary class entirely (the q_udf_grouped_map "
    "lesson).",
    scale_notes="One map-combined shuffle to the (type, hod) ledger "
    "(|types| x 24 rows); the type-level mean re-aggregates the "
    "ledger, and the final join is ledger-sized on both sides — "
    "nothing downstream of the first aggregation ever touches event "
    "rows. The cents x count cross-products fit BIGINT through sf1; "
    "beyond that they widen to DECIMAL(38,0) with identical "
    "semantics.",
)
def q_time_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    hodagg = ev.select(
        "event_type",
        F.hour("ts").cast("int").alias("hod"),
        F.round(F.col("value") * 100).cast("bigint").alias("v2"),
    ).groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v2").cast("bigint").alias("sv2"),
    )
    # Type totals via a window over the 24-bucket ledger — the plan
    # reuses the SAME aggregated subtree (one scan, no join); a
    # groupBy+join would re-derive the ledger from the source twice.
    w = Window.partitionBy("event_type")
    joined = hodagg.withColumn(
        "ts2", F.sum("sv2").over(w).cast("bigint")
    ).withColumn("tn", F.sum("n").over(w).cast("bigint"))
    num = F.col("sv2") * F.col("tn") - F.col("ts2") * F.col("n")
    idx4 = F.when(
        num >= 0,
        F.expr("(200 * (sv2 * tn - ts2 * n) + n * tn) div (2 * n * tn)"),
    ).otherwise(
        -F.expr("(200 * (ts2 * n - sv2 * tn) + n * tn) div (2 * n * tn)")
    )
    mean4 = F.when(
        F.col("sv2") >= 0,
        F.expr("(200 * sv2 + n) div (2 * n)"),
    ).otherwise(-F.expr("(200 * -sv2 + n) div (2 * n)"))
    return joined.select(
        "event_type",
        "hod",
        "n",
        (mean4.cast("double") / 10000).alias("hod_mean"),
        (idx4.cast("double") / 10000).alias("seasonal_idx"),
    )


#: Welch t-test two-sided 5% critical value (normal approximation —
#: both sample sizes are >> 30 at every fixture SF).
_TT_CRIT = 1.96


@register(
    "q_agg_ttest",
    oracle=f"""
WITH s AS (
  SELECT event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS v2
  FROM events WHERE event_type IN ('view', 'purchase')
), agg AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(v2) AS DOUBLE) AS sx,
         CAST(SUM(v2 * v2) AS DOUBLE) AS sxx
  FROM s GROUP BY event_type
), m AS (
  SELECT
    (SELECT n FROM agg WHERE event_type = 'view') AS nx,
    (SELECT sx FROM agg WHERE event_type = 'view') AS sxv,
    (SELECT sxx FROM agg WHERE event_type = 'view') AS sxxv,
    (SELECT n FROM agg WHERE event_type = 'purchase') AS ny,
    (SELECT sx FROM agg WHERE event_type = 'purchase') AS sxp,
    (SELECT sxx FROM agg WHERE event_type = 'purchase') AS sxxp
), f AS (
  SELECT nx, ny,
         (sxv / nx - sxp / ny) AS md,
         ((sxxv - sxv * sxv / nx) / (nx - 1)) / nx AS ax,
         ((sxxp - sxp * sxp / ny) / (ny - 1)) / ny AS ay
  FROM m
)
SELECT nx, ny,
       ROUND(md / sqrt(ax + ay), 4) AS t_stat,
       ROUND((ax + ay) * (ax + ay)
             / (ax * ax / (nx - 1) + ay * ay / (ny - 1)), 2) AS dof,
       abs(md / sqrt(ax + ay)) > {_TT_CRIT} AS significant
FROM f
""",
    doc="Welch's unequal-variance t-test between the view and "
    "purchase value distributions — the parametric companion to "
    "q_agg_ks_test's nonparametric drift check, with the "
    "Welch-Satterthwaite degrees of freedom. All moments come from "
    "exact integer-cents sums (count, sum, sum of squares), so the "
    "double formula evaluates the identical IEEE tree in both "
    "engines (the statistic is scale-invariant, so the cents "
    "scaling cancels); only the final display values are rounded.",
    scale_notes="One map-combined two-group aggregate (3 scalars "
    "per group) then scalar algebra on a 1-row frame — the "
    "canonical algebraic-aggregate shape; nothing downstream of "
    "the first reduction touches event rows. Sum-of-squares fits "
    "BIGINT through sf1 and widens to DECIMAL(38,0) beyond.",
)
def q_agg_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    s = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v2"),
    )
    # ONE conditional aggregation, always exactly one row: the previous
    # shape (per-group agg + two filters + crossJoin) returned ZERO
    # rows when either group was absent, while the oracle's scalar
    # subqueries return one row of NULLs (caught by the r7
    # empty-category probe on a single-event-type stream).  Counts
    # null out via the when-guard so an absent group reads NULL, not 0,
    # exactly like a missing scalar-subquery row; integer-cents sums
    # over the identical subsets keep the happy-path doubles
    # bit-identical to the old plan.
    vw = F.col("event_type") == "view"
    pc = F.col("event_type") == "purchase"
    cnt_v = F.count(F.when(vw, F.lit(1)))
    cnt_p = F.count(F.when(pc, F.lit(1)))
    f = s.agg(
        F.when(cnt_v > 0, cnt_v).cast("bigint").alias("nx"),
        F.when(cnt_p > 0, cnt_p).cast("bigint").alias("ny"),
        F.sum(F.when(vw, F.col("v2"))).cast("double").alias("sxv"),
        F.sum(F.when(vw, F.col("v2") * F.col("v2")))
        .cast("double")
        .alias("sxxv"),
        F.sum(F.when(pc, F.col("v2"))).cast("double").alias("sxp"),
        F.sum(F.when(pc, F.col("v2") * F.col("v2")))
        .cast("double")
        .alias("sxxp"),
    ).select(
        "nx",
        "ny",
        (F.col("sxv") / F.col("nx") - F.col("sxp") / F.col("ny")).alias(
            "md"
        ),
        (
            (F.col("sxxv") - F.col("sxv") * F.col("sxv") / F.col("nx"))
            / (F.col("nx") - 1)
            / F.col("nx")
        ).alias("ax"),
        (
            (F.col("sxxp") - F.col("sxp") * F.col("sxp") / F.col("ny"))
            / (F.col("ny") - 1)
            / F.col("ny")
        ).alias("ay"),
    )
    t_expr = F.col("md") / F.sqrt(F.col("ax") + F.col("ay"))
    return f.select(
        "nx",
        "ny",
        F.round(t_expr, 4).alias("t_stat"),
        F.round(
            (F.col("ax") + F.col("ay"))
            * (F.col("ax") + F.col("ay"))
            / (
                F.col("ax") * F.col("ax") / (F.col("nx") - 1)
                + F.col("ay") * F.col("ay") / (F.col("ny") - 1)
            ),
            2,
        ).alias("dof"),
        (F.abs(t_expr) > _TT_CRIT).alias("significant"),
    )


@register(
    "q_agg_mannwhitney",
    oracle="""
WITH s AS (
  SELECT event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS v2
  FROM events WHERE event_type IN ('view', 'purchase')
), ranked AS (
  SELECT event_type, v2,
         CAST(ROW_NUMBER() OVER (ORDER BY v2) AS BIGINT) AS rn
  FROM s
), avg_rank AS (
  -- average rank per tied value: exact dyadic (2*min_rn + cnt - 1)/2
  SELECT event_type,
         (2.0 * MIN(rn) OVER (PARTITION BY v2)
          + COUNT(*) OVER (PARTITION BY v2) - 1) / 2 AS ar
  FROM ranked
), agg AS (
  SELECT
    (SELECT COUNT(*) FROM s WHERE event_type = 'view') AS nx,
    (SELECT COUNT(*) FROM s WHERE event_type = 'purchase') AS ny,
    (SELECT SUM(ar) FROM avg_rank WHERE event_type = 'view') AS rx,
    (SELECT CAST(SUM(CAST(c AS DOUBLE) * c * c - c) AS DOUBLE)
     FROM (SELECT COUNT(*) AS c FROM s GROUP BY v2) t) AS tie_term
), f AS (
  SELECT nx, ny,
         rx - nx * (nx + 1) / 2.0 AS u,
         nx * ny / 2.0 AS mu,
         sqrt(CAST(nx AS DOUBLE) * ny / 12.0
              * ((nx + ny + 1)
                 - tie_term / (CAST(nx + ny AS DOUBLE)
                               * (nx + ny) - (nx + ny)))) AS sigma
  FROM agg
)
SELECT nx, ny,
       CAST(2 * u AS BIGINT) AS u2,
       ROUND((u - mu) / sigma, 4) AS z,
       abs((u - mu) / sigma) > 1.96 AS significant
FROM f
""",
    doc="Mann-Whitney U rank-sum test between the view and purchase "
    "value distributions — the nonparametric member of the drift "
    "battery (q_agg_ks_test detects any shape change, q_agg_ttest "
    "mean shifts under normality, this one location shifts without "
    "distributional assumptions). Ranks use the exact midrank "
    "convention: average rank of a tie group is the dyadic "
    "(2*min_rank + count - 1)/2, so every rank is a .5-exact "
    "double, U is emitted as the exact integer 2U, and the normal "
    "z approximation carries the standard tie correction.",
    scale_notes="Rank as PREFIX COUNT over the distinct-value ledger "
    "(implemented, r9 — the q_agg_gini bin-ledger rewrite): one "
    "map-combined groupBy(v2) shuffle builds (count, view-count) per "
    "distinct cent value, a ledger-sized running-sum window yields "
    "count-below (midrank = below + (c+1)/2, exactly the dyadic "
    "(2*min_rank + c - 1)/2), and the tie term rides the same ledger "
    "— no per-row global sort-rank anywhere. The window input is "
    "|distinct v2|, not n; at 100 TB the ledger range-partitions.",
)
def q_agg_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    s = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v2"),
    )
    # value ledger: one row per distinct cent value.  below = rows
    # strictly smaller, so a tie group's min rank is below + 1 and its
    # midrank (2*(below+1) + c - 1)/2 = below + (c+1)/2 — every term
    # is .5-exact, so the double sums below are EXACT (identical to
    # the oracle's per-row midrank sum) while n << 2^52.
    ledger = s.groupBy("v2").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum((F.col("event_type") == "view").cast("long")).alias("cx"),
    )
    w_led = Window.orderBy("v2").rowsBetween(
        Window.unboundedPreceding, -1
    )
    led = ledger.withColumn(
        "below", F.coalesce(F.sum("c").over(w_led), F.lit(0))
    )
    mid = F.col("below") + (F.col("c") + 1) / 2.0
    f = led.agg(
        F.sum("cx").cast("long").alias("nx"),
        F.sum(F.col("c") - F.col("cx")).cast("long").alias("ny"),
        F.sum(F.col("cx") * mid).alias("rx"),
        F.sum(
            F.col("c").cast("double") * F.col("c") * F.col("c")
            - F.col("c")
        )
        .cast("double")
        .alias("tie_term"),
    ).select(
        "nx",
        "ny",
        (F.col("rx") - F.col("nx") * (F.col("nx") + 1) / 2.0).alias("u"),
        (F.col("nx") * F.col("ny") / 2.0).alias("mu"),
        F.sqrt(
            F.col("nx").cast("double")
            * F.col("ny")
            / 12.0
            * (
                (F.col("nx") + F.col("ny") + 1)
                - F.col("tie_term")
                / (
                    (F.col("nx") + F.col("ny")).cast("double")
                    * (F.col("nx") + F.col("ny"))
                    - (F.col("nx") + F.col("ny"))
                )
            )
        ).alias("sigma"),
    )
    z = (F.col("u") - F.col("mu")) / F.col("sigma")
    return f.select(
        "nx",
        "ny",
        (2 * F.col("u")).cast("bigint").alias("u2"),
        F.round(z, 4).alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
    )


@register(
    "q_agg_hhi",
    oracle="""
WITH rev AS (
  SELECT c_mktsegment, c_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS r2
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY c_mktsegment, c_custkey
)
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       ROUND(10000.0
             * CAST(SUM(CAST(r2 AS HUGEINT) * r2) AS DOUBLE)
             / (CAST(SUM(r2) AS DOUBLE) * SUM(r2)), 4) AS hhi_pts
FROM rev
GROUP BY c_mktsegment
""",
    doc="Herfindahl-Hirschman concentration index per market "
    "segment: HHI (in the standard 0-10000 points scale) of "
    "customer revenue shares, computed as 10000 * sum(r_i^2) / "
    "(sum r_i)^2 over exact integer-cents revenues — the squared "
    "sums ride int128/DECIMAL(38,0) so no float reduction exists; "
    "the single final division is the only double op. Completes "
    "the concentration family (q_agg_gini measures inequality, "
    "q_agg_pareto coverage, HHI market power).",
    scale_notes="Two-level rollup: per-(segment, customer) cents "
    "ledger (one shuffle, map-combined), then a segment-sized "
    "re-aggregation of squared ledger rows. int128 accumulators "
    "hold through any realistic SF; the shape is q_agg_gini's "
    "without the rank window.",
)
def q_agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("r2"),
    )
    rev = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum("r2").cast("bigint").alias("r2"))
    )
    sum_r = F.sum("r2")
    sum_sq = F.sum(F.col("r2").cast("decimal(38,0)") * F.col("r2"))
    return rev.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            F.lit(10000.0)
            * sum_sq.cast("double")
            / (sum_r.cast("double") * sum_r),
            4,
        ).alias("hhi_pts"),
    )


@register(
    "q_agg_mutual_info",
    oracle="""
WITH joint AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hod,
         COUNT(*) AS nxy
  FROM events GROUP BY event_type, hod
), mx AS (
  SELECT event_type, CAST(SUM(nxy) AS BIGINT) AS nx FROM joint
  GROUP BY event_type
), my AS (
  SELECT hod, CAST(SUM(nxy) AS BIGINT) AS ny FROM joint GROUP BY hod
), tot AS (
  SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM joint
)
SELECT tot.n AS n_events,
       COUNT(*) AS n_cells,
       ROUND(CAST(SUM(CAST(ROUND(
               CAST(joint.nxy AS DOUBLE) / tot.n
               * ln(CAST(joint.nxy AS DOUBLE) * tot.n
                    / (CAST(mx.nx AS DOUBLE) * my.ny)), 8)
             AS DECIMAL(18,8))) AS DOUBLE), 4) AS mi_nats
FROM joint
JOIN mx USING (event_type)
JOIN my USING (hod)
CROSS JOIN tot
GROUP BY tot.n
""",
    doc="Mutual information I(event_type; hour-of-day) in nats — the "
    "aggregate companion to q_event_cooccurrence's per-pair PMI and "
    "the standard feature-relevance screen (MI = 0 iff the type mix "
    "is independent of the time of day). Every probability is a "
    "ratio of exact integer counts; each cell's contribution is "
    "rounded to 8 decimals and summed as DECIMAL so the reduction "
    "over the (types x 24)-cell grid is order-independent.",
    scale_notes="One map-combined shuffle to the joint ledger; "
    "marginals re-aggregate the ledger (types + 24 rows), and the "
    "MI sum runs over the bounded cell grid — at ANY corpus scale "
    "the post-ledger work is constant-size. The q_time_seasonal "
    "shape with an information-theoretic head.",
)
def q_agg_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    joint = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hod")
    ).agg(F.count(F.lit(1)).alias("nxy"))
    mx = joint.groupBy("event_type").agg(
        F.sum("nxy").cast("bigint").alias("nx")
    )
    my = joint.groupBy("hod").agg(F.sum("nxy").cast("bigint").alias("ny"))
    tot = joint.agg(F.sum("nxy").cast("bigint").alias("n"))
    term = F.round(
        F.col("nxy").cast("double")
        / F.col("n")
        * F.log(
            F.col("nxy").cast("double")
            * F.col("n")
            / (F.col("nx").cast("double") * F.col("ny"))
        ),
        8,
    ).cast("decimal(18,8)")
    return (
        joint.join(mx, "event_type")
        .join(my, "hod")
        .crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum(term).cast("double"), 4).alias("mi_nats"),
        )
        .select(
            F.col("n").alias("n_events"), "n_cells", "mi_nats"
        )
    )


#: Shared hour-of-day distribution CTEs for the divergence pair
#: (q_agg_kl_divergence / q_agg_js_divergence) — one definition so the
#: two measures can never silently compare different distributions.
_HOD_DIST_CTES = """p AS (
  SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hod, COUNT(*) AS np
  FROM events WHERE event_type = 'view' GROUP BY hod
), q AS (
  SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hod, COUNT(*) AS nq
  FROM events WHERE event_type = 'purchase' GROUP BY hod
), tot AS (
  SELECT (SELECT CAST(SUM(np) AS BIGINT) FROM p) AS tp,
         (SELECT CAST(SUM(nq) AS BIGINT) FROM q) AS tq
)"""


def _hod_dists(spark: SparkSession, sf_dir: str):
    """(p, q, tp, tq) hour-of-day count ledgers for view/purchase —
    the DataFrame twin of ``_HOD_DIST_CTES``."""
    ev = read_table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(F.hour("ts").cast("int").alias("hod"))
        .agg(F.count(F.lit(1)).alias("np"))
    )
    q = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.hour("ts").cast("int").alias("hod"))
        .agg(F.count(F.lit(1)).alias("nq"))
    )
    tp = p.agg(F.sum("np").cast("bigint").alias("tp"))
    tq = q.agg(F.sum("nq").cast("bigint").alias("tq"))
    return p, q, tp, tq


@register(
    "q_agg_kl_divergence",
    oracle=f"""
WITH {_HOD_DIST_CTES}
SELECT tot.tp AS n_view, tot.tq AS n_purchase,
       COUNT(*) AS n_bins,
       ROUND(CAST(SUM(CAST(ROUND(
               CAST(p.np AS DOUBLE) / tot.tp
               * ln(CAST(p.np AS DOUBLE) * tot.tq
                    / (CAST(q.nq AS DOUBLE) * tot.tp)), 8)
             AS DECIMAL(18,8))) AS DOUBLE), 4) AS kl_nats
FROM p JOIN q USING (hod) CROSS JOIN tot
GROUP BY tot.tp, tot.tq
""",
    doc="KL divergence D(view || purchase) between the two types' "
    "hour-of-day distributions in nats — the directed "
    "distribution-shift measure completing the drift battery (KS "
    "statistic, t/U tests, mutual information). Both distributions "
    "are ratios of exact counts over the same 24-bin support "
    "(every hour is populated at fixture SFs; bins missing from "
    "either side would drop via the inner join, making the "
    "estimate a support-restricted KL, which the doc declares). "
    "Per-bin terms ROUND to 8 decimals then DECIMAL-sum — "
    "order-independent.",
    scale_notes="Two scan-pruned count ledgers (24 rows each) + "
    "constant-size divergence algebra; the same ledger-bounded "
    "shape as q_agg_mutual_info at any corpus size.",
)
def q_agg_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    p, q, tp, tq = _hod_dists(spark, sf_dir)
    term = F.round(
        F.col("np").cast("double")
        / F.col("tp")
        * F.log(
            F.col("np").cast("double")
            * F.col("tq")
            / (F.col("nq").cast("double") * F.col("tp"))
        ),
        8,
    ).cast("decimal(18,8)")
    return (
        p.join(q, "hod")
        .crossJoin(F.broadcast(tp))
        .crossJoin(F.broadcast(tq))
        .groupBy("tp", "tq")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.round(F.sum(term).cast("double"), 4).alias("kl_nats"),
        )
        .select(
            F.col("tp").alias("n_view"),
            F.col("tq").alias("n_purchase"),
            "n_bins",
            "kl_nats",
        )
    )


@register(
    "q_agg_js_divergence",
    oracle=f"""
WITH {_HOD_DIST_CTES}, cells AS (
  SELECT CAST(p.np AS DOUBLE) / tot.tp AS pp,
         CAST(q.nq AS DOUBLE) / tot.tq AS qq,
         tot.tp, tot.tq
  FROM p JOIN q USING (hod) CROSS JOIN tot
)
SELECT tp AS n_view, tq AS n_purchase, COUNT(*) AS n_bins,
       ROUND(CAST(SUM(CAST(ROUND(
               0.5 * pp * ln(pp / (0.5 * (pp + qq)))
             + 0.5 * qq * ln(qq / (0.5 * (pp + qq))), 8)
             AS DECIMAL(18,8))) AS DOUBLE), 4) AS js_nats
FROM cells
GROUP BY tp, tq
""",
    doc="Jensen-Shannon divergence between the view and purchase "
    "hour-of-day distributions — the bounded (<= ln 2), symmetric "
    "member of the divergence family (q_agg_kl_divergence is the "
    "directed form); JS is the measure distribution-shift monitors "
    "threshold on because it never diverges on disjoint support. "
    "Same exact-count probability construction, identical "
    "expression tree in both engines, per-bin ROUND+DECIMAL sum.",
    scale_notes="Identical ledger-bounded shape to the KL/MI rows: "
    "two pruned 24-bin count ledgers + constant-size algebra, "
    "invariant to corpus scale.",
)
def q_agg_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    p, q, tp, tq = _hod_dists(spark, sf_dir)
    cells = (
        p.join(q, "hod")
        .crossJoin(F.broadcast(tp))
        .crossJoin(F.broadcast(tq))
        .select(
            (F.col("np").cast("double") / F.col("tp")).alias("pp"),
            (F.col("nq").cast("double") / F.col("tq")).alias("qq"),
            "tp",
            "tq",
        )
    )
    m = 0.5 * (F.col("pp") + F.col("qq"))
    term = F.round(
        0.5 * F.col("pp") * F.log(F.col("pp") / m)
        + 0.5 * F.col("qq") * F.log(F.col("qq") / m),
        8,
    ).cast("decimal(18,8)")
    return (
        cells.groupBy("tp", "tq")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.round(F.sum(term).cast("double"), 4).alias("js_nats"),
        )
        .select(
            F.col("tp").alias("n_view"),
            F.col("tq").alias("n_purchase"),
            "n_bins",
            "js_nats",
        )
    )


@register(
    "q_agg_runs_test",
    oracle="""
WITH s AS (
  SELECT event_type, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS v2
  FROM events
), med AS (
  SELECT event_type, CAST(2 * median(v2) AS BIGINT) AS med2
  FROM s GROUP BY event_type
), f AS (
  SELECT s.event_type, s.ts, s.event_id,
         CAST(2 * s.v2 > med.med2 AS INT) AS above
  FROM s JOIN med USING (event_type)
  WHERE 2 * s.v2 <> med.med2
), r AS (
  SELECT event_type, above,
         lag(above) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS pa
  FROM f
), agg AS (
  SELECT event_type,
         CAST(SUM(above) AS BIGINT) AS n1,
         CAST(SUM(1 - above) AS BIGINT) AS n2,
         CAST(1 + SUM(CASE WHEN pa IS NOT NULL AND above <> pa
                           THEN 1 ELSE 0 END) AS BIGINT) AS runs
  FROM r GROUP BY event_type
)
SELECT event_type, n1 AS n_above, n2 AS n_below, runs AS n_runs,
       ROUND((runs - (1 + 2.0 * n1 * n2 / (n1 + n2)))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                    / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                       * (n1 + n2 - 1))), 4) AS z,
       abs((runs - (1 + 2.0 * n1 * n2 / (n1 + n2)))
           / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                  / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                     * (n1 + n2 - 1)))) > 1.96 AS nonrandom
FROM agg
""",
    doc="Wald-Wolfowitz runs test per event type: the time-ordered "
    "value sequence is binarized against the type's exact median "
    "(dyadic 2x-median integer comparisons; exact-median rows are "
    "excluded so the sequence is strictly binary), runs are "
    "counted via one lag window, and the normal z approximation "
    "flags non-randomness at 5% — too FEW runs = trending/sticky "
    "values, too MANY = oscillation. The randomness-of-sequence "
    "member of the drift battery (KS/t/U test distributions, "
    "CUSUM/autocorr test memory; this tests run structure).",
    scale_notes="One type shuffle shared by the median ledger "
    "re-join and the lag window, then type-sized scalar algebra. "
    "The exact median swaps for the histogram sketch at 100 TB "
    "like every other exact-quantile row.",
)
def q_agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v2"),
    )
    med = s.groupBy("event_type").agg(
        (2 * F.expr("percentile(v2, 0.5)")).cast("bigint").alias("med2")
    )
    f = (
        s.join(med, "event_type")
        .filter(2 * F.col("v2") != F.col("med2"))
        .select(
            "event_type",
            "ts",
            "event_id",
            (2 * F.col("v2") > F.col("med2")).cast("int").alias("above"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    r = f.withColumn("pa", F.lag("above").over(w))
    agg = r.groupBy("event_type").agg(
        F.sum("above").cast("bigint").alias("n1"),
        F.sum(1 - F.col("above")).cast("bigint").alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("pa").isNotNull()
                    & (F.col("above") != F.col("pa")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("runs"),
    )
    n = F.col("n1") + F.col("n2")
    mu = 1 + 2.0 * F.col("n1") * F.col("n2") / n
    var = (
        2.0
        * F.col("n1")
        * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - n)
        / (n.cast("double") * n * (n - 1))
    )
    z = (F.col("runs") - mu) / F.sqrt(var)
    return agg.select(
        "event_type",
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("runs").alias("n_runs"),
        F.round(z, 4).alias("z"),
        (F.abs(z) > 1.96).alias("nonrandom"),
    )


@register(
    "q_agg_chisq",
    oracle="""
WITH joint AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hod,
         COUNT(*) AS nxy
  FROM events GROUP BY event_type, hod
), mx AS (
  SELECT event_type, CAST(SUM(nxy) AS BIGINT) AS nx FROM joint GROUP BY event_type
), my AS (
  SELECT hod, CAST(SUM(nxy) AS BIGINT) AS ny FROM joint GROUP BY hod
), tot AS (
  SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM joint
), grid AS (
  SELECT mx.event_type, my.hod, mx.nx, my.ny,
         COALESCE(joint.nxy, 0) AS o
  FROM mx CROSS JOIN my
  LEFT JOIN joint ON joint.event_type = mx.event_type
                 AND joint.hod = my.hod
), stat AS (
  SELECT tot.n,
         (SELECT COUNT(*) FROM mx) AS n_types,
         (SELECT COUNT(*) FROM my) AS n_hours,
         CAST(SUM(CAST(ROUND(
             POW(CAST(o AS DOUBLE) * tot.n - CAST(nx AS DOUBLE) * ny, 2)
             / (CAST(tot.n AS DOUBLE) * nx * ny), 8)
           AS DECIMAL(24,8))) AS DOUBLE) AS chi2
  FROM grid CROSS JOIN tot
  GROUP BY tot.n
)
SELECT n AS n_events, n_types, n_hours,
       (n_types - 1) * (n_hours - 1) AS dof,
       ROUND(chi2, 4) AS chi2,
       ROUND(SQRT(chi2 / (n * LEAST(n_types - 1, n_hours - 1))), 4)
         AS cramers_v
FROM stat
""",
    doc="Chi-square test of independence between event_type and "
    "hour-of-day, plus Cramer's V effect size — the count-based "
    "companion to q_agg_mutual_info on the same contingency grid. "
    "The grid is the FULL product support (marginal x marginal, "
    "zero-observed cells included via left join, contributing their "
    "expected mass), each cell term (O*n - nx*ny)^2 / (n*nx*ny) "
    "rounded to 8 decimals and DECIMAL-summed so the reduction is "
    "order-independent. Cramer's V = sqrt(chi2 / (n*min(r-1,c-1))) "
    "normalizes to [0,1].",
    scale_notes="One map-combined shuffle to the joint ledger; the "
    "full grid is (types x 24) rows built from broadcast-sized "
    "marginals, so post-ledger cost is constant at any corpus "
    "scale — the q_agg_mutual_info shape with zero-cells restored.",
)
def q_agg_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    joint = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hod")
    ).agg(F.count(F.lit(1)).alias("nxy"))
    mx = joint.groupBy("event_type").agg(
        F.sum("nxy").cast("bigint").alias("nx")
    )
    my = joint.groupBy("hod").agg(F.sum("nxy").cast("bigint").alias("ny"))
    tot = joint.agg(F.sum("nxy").cast("bigint").alias("n"))
    n_types = mx.agg(F.count(F.lit(1)).alias("n_types"))
    n_hours = my.agg(F.count(F.lit(1)).alias("n_hours"))
    grid = (
        mx.crossJoin(my)
        .join(joint, ["event_type", "hod"], "left")
        .select(
            "nx", "ny", F.coalesce(F.col("nxy"), F.lit(0)).alias("o")
        )
    )
    term = F.round(
        F.pow(
            F.col("o").cast("double") * F.col("n")
            - F.col("nx").cast("double") * F.col("ny"),
            2,
        )
        / (F.col("n").cast("double") * F.col("nx") * F.col("ny")),
        8,
    ).cast("decimal(24,8)")
    stat = (
        grid.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(F.sum(term).cast("double").alias("chi2"))
        .crossJoin(F.broadcast(n_types))
        .crossJoin(F.broadcast(n_hours))
    )
    dof = (F.col("n_types") - 1) * (F.col("n_hours") - 1)
    return stat.select(
        F.col("n").alias("n_events"),
        "n_types",
        "n_hours",
        dof.cast("bigint").alias("dof"),
        F.round("chi2", 4).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n")
                    * F.least(F.col("n_types") - 1, F.col("n_hours") - 1)
                )
            ),
            4,
        ).alias("cramers_v"),
    )


def _avg_rank2(df: DataFrame, group: str, value: str, out: str) -> DataFrame:
    """(group, value, c, r2) ledger where r2 = 2 x average rank of
    ``value`` within ``group`` (integer: 2*cum_before + c + 1) —
    the tie-correct Spearman rank, doubled to stay in exact integer
    arithmetic. Ledger-sized: one row per distinct value per group."""
    from pyspark.sql import Window

    ledger = df.groupBy(group, value).agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy(group)
        .orderBy(value)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("c").over(w), F.lit(0))
    return ledger.select(
        group,
        value,
        (2 * cum_before + F.col("c") + 1).cast("bigint").alias(out),
    )


@register(
    "q_agg_spearman",
    oracle="""
WITH rx AS (
  SELECT l_returnflag, l_quantity,
         CAST(2 * COALESCE(SUM(COUNT(*)) OVER (PARTITION BY l_returnflag
                                       ORDER BY l_quantity
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND 1 PRECEDING), 0)
              AS BIGINT)
           + COUNT(*) + 1 AS r2x
  FROM lineitem GROUP BY l_returnflag, l_quantity
), ry AS (
  SELECT l_returnflag, l_extendedprice,
         CAST(2 * COALESCE(SUM(COUNT(*)) OVER (PARTITION BY l_returnflag
                                       ORDER BY l_extendedprice
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND 1 PRECEDING), 0)
              AS BIGINT)
           + COUNT(*) + 1 AS r2y
  FROM lineitem GROUP BY l_returnflag, l_extendedprice
), tagged AS (
  SELECT l.l_returnflag,
         CAST(rx.r2x AS HUGEINT) AS x,
         CAST(ry.r2y AS HUGEINT) AS y
  FROM lineitem l
  JOIN rx ON rx.l_returnflag = l.l_returnflag
         AND rx.l_quantity = l.l_quantity
  JOIN ry ON ry.l_returnflag = l.l_returnflag
         AND ry.l_extendedprice = l.l_extendedprice
), sums AS (
  SELECT l_returnflag, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM tagged GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4)
         AS rho_spearman
FROM sums ORDER BY l_returnflag
""",
    doc="Spearman rank correlation between l_quantity and "
    "l_extendedprice per returnflag — the robust (monotone, "
    "outlier-insensitive) companion to q_agg_regr's Pearson "
    "machinery. Tie-correct average ranks, held exactly as "
    "integers by working with DOUBLED ranks (2r = 2*cum_before + "
    "count + 1); all five moment sums are exact integer "
    "reductions, and only the final Pearson-on-ranks ratio drops "
    "to DOUBLE (identical IEEE value both engines), rounded to 4.",
    scale_notes="Two ledger windows (distinct values per group — "
    "bounded for quantity, row-scale worst-case for price) + two "
    "equi joins tagging each row with its rank, then one "
    "map-combined moment aggregation. No all-pairs anything: "
    "Spearman via rank-then-Pearson is shuffle-linear. DECIMAL(38) "
    "sums keep the moments exact past 10^18 at 100 TB.",
)
def q_agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    rx = _avg_rank2(li, "l_returnflag", "l_quantity", "r2x")
    ry = _avg_rank2(li, "l_returnflag", "l_extendedprice", "r2y")
    tagged = (
        li.join(rx, ["l_returnflag", "l_quantity"])
        .join(ry, ["l_returnflag", "l_extendedprice"])
        .select(
            "l_returnflag",
            F.col("r2x").cast("decimal(15,0)").alias("x"),
            F.col("r2y").cast("decimal(15,0)").alias("y"),
        )
    )
    sums = tagged.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    rho = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / F.sqrt(
        (
            nd * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            nd * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return sums.select(
        "l_returnflag", "n", F.round(rho, 4).alias("rho_spearman")
    ).orderBy("l_returnflag")


@register(
    "q_agg_theilsen",
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(CAST(date_trunc('day', ts) AS DATE)
              - DATE '1970-01-01' AS BIGINT) AS x,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS y
  FROM events GROUP BY event_type, x
), pairs AS (
  SELECT a.event_type,
         CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.x > a.x
)
SELECT event_type,
       CAST((SELECT COUNT(*) FROM daily d
             WHERE d.event_type = p.event_type) AS BIGINT) AS n_days,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(quantile_cont(slope, 0.5) AS DOUBLE), 4)
         AS slope_cents_per_day
FROM pairs p GROUP BY event_type ORDER BY event_type
""",
    doc="Theil-Sen robust trend: per event type, the median of all "
    "pairwise slopes of the daily-revenue-cents series — the "
    "breakdown-resistant alternative to q_win_slope's least-squares "
    "line (up to ~29% outlier days cannot move it). Slopes are "
    "exact-integer-difference ratios; the median interpolates the "
    "two middle slopes identically in both engines, rounded to 4.",
    scale_notes="The pair join is LEDGER-squared, not data-squared: "
    "one event-scale shuffle to the (type, day) cents ledger, then "
    "all-pairs within each type over <= span-days rows (435 pairs "
    "per type for a 30-day window, invariant to corpus size). For "
    "multi-year spans the repeated-median variant over day-bucketed "
    "ledgers keeps the pair count bounded.",
)
def q_agg_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.to_date(F.date_trunc("day", "ts")),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("x"),
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.x") > F.col("a.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.x") - F.col("a.x"))
        ).alias("slope"),
    )
    n_days = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.expr("percentile(slope, 0.5)"), 4).alias(
                "slope_cents_per_day"
            ),
        )
        .join(n_days, "event_type")
        .select(
            "event_type", "n_days", "n_pairs", "slope_cents_per_day"
        )
        .orderBy("event_type")
    )


_BOOT_B = 48  # deterministic half-subsamples


@register(
    "q_agg_bootstrap_ci",
    oracle=f"""
WITH b_axis AS (
  SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b
), hashed AS (
  SELECT l_returnflag,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents,
         CAST('0x' || substr(md5(
           CAST(l_orderkey AS VARCHAR) || '_' ||
           CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM lineitem
), member AS (
  SELECT hd.l_returnflag, b.b, hd.cents
  FROM hashed hd CROSS JOIN b_axis b
  WHERE (hd.h >> b.b) & 1 = 0
), means AS (
  SELECT l_returnflag, b,
         CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100 AS m
  FROM member GROUP BY l_returnflag, b
), full_mean AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS DOUBLE) / COUNT(*) / 100 AS est,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_returnflag
)
SELECT f.l_returnflag, f.n, ROUND(f.est, 4) AS mean_price,
       CAST(COUNT(*) AS BIGINT) AS n_resamples,
       ROUND(CAST(quantile_cont(m.m, 0.025) AS DOUBLE), 4) AS ci_lo,
       ROUND(CAST(quantile_cont(m.m, 0.975) AS DOUBLE), 4) AS ci_hi
FROM full_mean f JOIN means m USING (l_returnflag)
GROUP BY f.l_returnflag, f.n, f.est ORDER BY f.l_returnflag
""",
    doc="Subsampled-bootstrap confidence interval for the mean "
    "extended price per returnflag: 48 deterministic half-"
    "subsamples (membership = bit b of one md5 row hash — no RNG, so "
    "both engines draw the SAME resamples), each subsample mean "
    "computed from exact integer cents, CI = the 2.5/97.5 "
    "percentiles of the resample means. The half-sampling scheme "
    "is the scale-friendly bag-of-little-bootstraps flavor rather "
    "than with-replacement resampling.",
    scale_notes="Zero fan-out: one md5 per row and 2 x B "
    "conditional accumulators in a single map-combined aggregate — "
    "the shuffle carries 96 longs per partition, never B x n "
    "rows (the oracle's explode is the readable twin; the wide "
    "aggregate measured 8.7x faster at sf0.1). At 100 TB shrink "
    "the subsample rate n^0.6-style and the shape is unchanged.",
)
def q_agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    # ONE md5 per row; bit b of the 60-bit hash is resample b's
    # fair-coin membership draw (48 draws from one hash — measured
    # ~7x cheaper than hashing (row, b) pairs at sf0.1).
    h = md5_prefix_int(
        F.concat_ws("_", F.col("l_orderkey"), F.col("l_linenumber")), 15
    )
    hashed = li.select("l_returnflag", cents.alias("cents"), h.alias("h"))
    # No row fan-out at all: one aggregate with 2 x B conditional
    # accumulators per flag (sum + count per resample), then a stack
    # to the (flag, b) ledger — the shuffle carries 96 longs per
    # partition instead of B x n exploded rows (measured 2x faster
    # than the explode formulation at sf0.1, and the fan-out CPU
    # disappears entirely).
    accs = []
    for i in range(_BOOT_B):
        bit = F.expr(f"(h >> {i}) & 1") == 0
        accs.append(
            F.sum(F.when(bit, F.col("cents"))).alias(f"s{i}")
        )
        accs.append(F.count(F.when(bit, F.lit(1))).alias(f"c{i}"))
    wide = hashed.groupBy("l_returnflag").agg(*accs)
    stack_args = ", ".join(f"{i}, s{i}, c{i}" for i in range(_BOOT_B))
    # EMPTY resamples are dropped, not carried as NULL means: the
    # oracle's exploded-membership formulation only materializes
    # non-empty (flag, b) rows, so n_resamples counts resamples that
    # actually drew rows.  Indistinguishable on the fixture (every
    # group >> 48 rows); a 2-row group leaves ~1/4 of its 48
    # half-subsamples empty (adversarial-lineitem battery).
    means = (
        wide.select(
            "l_returnflag",
            F.expr(f"stack({_BOOT_B}, {stack_args}) AS (b, s, c)"),
        )
        .where(F.col("c") > 0)
        .select(
            "l_returnflag",
            "b",
            (F.col("s").cast("double") / F.col("c") / 100).alias("m"),
        )
    )
    full_mean = li.groupBy("l_returnflag").agg(
        (F.sum(cents).cast("double") / F.count(F.lit(1)) / 100).alias(
            "est"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return (
        full_mean.join(means, "l_returnflag")
        .groupBy("l_returnflag", "n", "est")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_resamples"),
            F.round(F.expr("percentile(m, 0.025)"), 4).alias("ci_lo"),
            F.round(F.expr("percentile(m, 0.975)"), 4).alias("ci_hi"),
        )
        .select(
            "l_returnflag",
            "n",
            F.round("est", 4).alias("mean_price"),
            "n_resamples",
            "ci_lo",
            "ci_hi",
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_agg_ols2",
    oracle="""
WITH obs AS (
  SELECT l_returnflag,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
         CAST(l_quantity AS BIGINT) AS x1,
         CAST(CAST(l_discount AS DECIMAL(6,2)) * 100 AS BIGINT) AS x2
  FROM lineitem
), m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x1 AS HUGEINT)) AS DOUBLE) AS s1,
         CAST(SUM(CAST(x2 AS HUGEINT)) AS DOUBLE) AS s2,
         CAST(SUM(CAST(y  AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
         CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12,
         CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
         CAST(SUM(CAST(x1 AS HUGEINT) * y) AS DOUBLE) AS s1y,
         CAST(SUM(CAST(x2 AS HUGEINT) * y) AS DOUBLE) AS s2y,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
  FROM obs GROUP BY l_returnflag
), solved AS (
  SELECT l_returnflag, n,
         n * (s11 * s22 - s12 * s12)
           - s1 * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s12 - s11 * s2) AS det,
         sy * (s11 * s22 - s12 * s12)
           - s1 * (s1y * s22 - s12 * s2y)
           + s2 * (s1y * s12 - s11 * s2y) AS det0,
         n * (s1y * s22 - s12 * s2y)
           - sy * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s2y - s1y * s2) AS det1,
         n * (s11 * s2y - s1y * s12)
           - s1 * (s1 * s2y - s1y * s2)
           + sy * (s1 * s12 - s11 * s2) AS det2,
         sy, s1y, s2y, syy
  FROM m
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       ROUND(det0 / det, 4) AS b0_cents,
       ROUND(det1 / det, 4) AS b1_cents_per_qty,
       ROUND(det2 / det, 4) AS b2_cents_per_pct,
       ROUND(1 - (syy - (det0 / det) * sy - (det1 / det) * s1y
                  - (det2 / det) * s2y)
               / (syy - sy * sy / n), 4) AS r2
FROM solved ORDER BY l_returnflag
""",
    doc="Two-feature OLS by closed-form normal equations: "
    "extended price (cents) regressed on quantity and discount "
    "percent per returnflag, solved exactly via Cramer's rule on "
    "the 3x3 moment matrix — the multi-feature generalization of "
    "q_agg_regr's built-in simple regression, and the pattern for "
    "any small-p linear model at 100 TB (one aggregation pass, "
    "driver-free closed-form solve). All ten moments are exact "
    "integer sums (HUGEINT/DECIMAL); determinants and R^2 are "
    "evaluated with an identical double expression in both "
    "engines, rounded to 4.",
    scale_notes="ONE map-combined aggregation over the fact — the "
    "shuffle carries 10 moments per (flag, partition). p features "
    "need p(p+3)/2 moments and a p x p solve: closed-form to "
    "~tens of features, after which the same moment pass feeds an "
    "iterative solver. No per-row Python, no driver matrices "
    "beyond the 3x3.",
)
def q_agg_ols2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    obs = li.select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y"),
        F.col("l_quantity").cast("bigint").alias("x1"),
        (F.col("l_discount").cast("decimal(6,2)") * 100)
        .cast("bigint")
        .alias("x2"),
    )
    d = lambda c: F.col(c).cast("decimal(20,0)")  # noqa: E731
    m = obs.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(d("x1")).cast("double").alias("s1"),
        F.sum(d("x2")).cast("double").alias("s2"),
        F.sum(d("y")).cast("double").alias("sy"),
        F.sum(d("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(d("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum(d("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum(d("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(d("x2") * F.col("y")).cast("double").alias("s2y"),
        F.sum(d("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, s1, s2, sy = F.col("n"), F.col("s1"), F.col("s2"), F.col("sy")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    s1y, s2y, syy = F.col("s1y"), F.col("s2y"), F.col("syy")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    b0, b1, b2 = det0 / det, det1 / det, det2 / det
    r2 = 1 - (syy - b0 * sy - b1 * s1y - b2 * s2y) / (
        syy - sy * sy / n
    )
    return m.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(b0, 4).alias("b0_cents"),
        F.round(b1, 4).alias("b1_cents_per_qty"),
        F.round(b2, 4).alias("b2_cents_per_pct"),
        F.round(r2, 4).alias("r2"),
    ).orderBy("l_returnflag")


@register(
    "q_agg_kruskal",
    oracle="""
WITH s AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v2 FROM events
), ranked AS (
  SELECT event_type, v2,
         CAST(ROW_NUMBER() OVER (ORDER BY v2) AS BIGINT) AS rn
  FROM s
), avg_rank AS (
  SELECT event_type,
         (2.0 * MIN(rn) OVER (PARTITION BY v2)
          + COUNT(*) OVER (PARTITION BY v2) - 1) / 2 AS ar
  FROM ranked
), g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ar AS DECIMAL(28,1))) AS DECIMAL(28,1)) AS r
  FROM avg_rank GROUP BY event_type
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(SUM(CAST(ROUND(CAST(r AS DOUBLE) * r / n, 6)
                       AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS rsum
  FROM g
), ties AS (
  SELECT CAST(SUM(CAST(c AS DOUBLE) * c * c - c) AS DOUBLE) AS tie_term
  FROM (SELECT COUNT(*) AS c FROM s GROUP BY v2) u
)
SELECT k, n_total,
       -- + 0 clamps IEEE negative zero (SURVEY 7.4 rule 8b): with a
       -- single group H is a tiny negative and DuckDB's ROUND yields
       -- -0.0 where Spark's yields 0.0
       ROUND(12.0 / (CAST(n_total AS DOUBLE) * (n_total + 1))
             * CAST(rsum AS DOUBLE) - 3.0 * (n_total + 1), 4) + 0 AS h,
       ROUND((12.0 / (CAST(n_total AS DOUBLE) * (n_total + 1))
              * CAST(rsum AS DOUBLE) - 3.0 * (n_total + 1))
             / (1 - tie_term
                    / (CAST(n_total AS DOUBLE) * n_total * n_total
                       - n_total)), 4) + 0 AS h_corrected
FROM t, ties
""",
    doc="Kruskal-Wallis H test of event value across ALL event "
    "types — the k-sample rank-based one-way ANOVA (q_agg_anova's "
    "nonparametric twin, extending q_agg_mannwhitney beyond two "
    "groups): H = 12/(N(N+1)) * sum R_j^2/n_j - 3(N+1) on exact "
    "dyadic midranks, with the standard tie correction "
    "1 - sum(t^3 - t)/(N^3 - N). Per-group rank sums are "
    "DECIMAL-exact (.5-exact doubles summed as DECIMAL(28,1)); "
    "the one float term per group, R_j^2/n_j, is ROUND-6 "
    "DECIMAL-summed so the k-row reduction is order-independent.",
    scale_notes="Rank as PREFIX COUNT over the distinct-value ledger "
    "(implemented, r9 — same rewrite as q_agg_mannwhitney): one "
    "map-combined groupBy(v2, event_type) shuffle, the v2 ledger's "
    "running-sum window yields count-below (midrank = below + "
    "(c+1)/2), a ledger-sized join carries midranks back to the "
    "per-group counts, then a k-row ledger. No per-row global "
    "sort-rank; the window and join inputs are |distinct v2|, not n.",
)
def q_agg_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v2"),
    )
    # (value, group) ledger -> value ledger -> midrank per value
    # (below + (c+1)/2 == the dyadic (2*min_rank + c - 1)/2, see
    # q_agg_mannwhitney); every midrank is .5-exact, so cg*midrank
    # cast to DECIMAL(28,1) is exact — identical to the oracle's
    # per-row midrank sum.
    gl = s.groupBy("v2", "event_type").agg(
        F.count(F.lit(1)).alias("cg")
    )
    vl = gl.groupBy("v2").agg(F.sum("cg").alias("c"))
    w_led = Window.orderBy("v2").rowsBetween(
        Window.unboundedPreceding, -1
    )
    vl = vl.withColumn(
        "below", F.coalesce(F.sum("c").over(w_led), F.lit(0))
    )
    mid = (F.col("below") + (F.col("c") + 1) / 2.0).alias("ar_mid")
    g = (
        gl.join(vl.select("v2", mid), "v2")
        .groupBy("event_type")
        .agg(
            F.sum("cg").cast("bigint").alias("n"),
            F.sum(
                (F.col("cg") * F.col("ar_mid")).cast("decimal(28,1)")
            )
            .cast("decimal(28,1)")
            .alias("r"),
        )
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum(
            F.round(
                F.col("r").cast("double") * F.col("r") / F.col("n"), 6
            ).cast("decimal(38,6)")
        )
        .cast("decimal(38,6)")
        .alias("rsum"),
    )
    # tie term rides the same value ledger (vl carries c per v2)
    ties = vl.agg(
        F.sum(
            F.col("c").cast("double") * F.col("c") * F.col("c")
            - F.col("c")
        )
        .cast("double")
        .alias("tie_term")
    )
    h = (
        F.lit(12.0)
        / (F.col("n_total").cast("double") * (F.col("n_total") + 1))
        * F.col("rsum").cast("double")
        - 3.0 * (F.col("n_total") + 1)
    )
    corr = F.lit(1) - F.col("tie_term") / (
        F.col("n_total").cast("double")
        * F.col("n_total")
        * F.col("n_total")
        - F.col("n_total")
    )
    return t.crossJoin(F.broadcast(ties)).select(
        "k",
        "n_total",
        # + 0.0 clamps IEEE -0.0 (SURVEY 7.4 rule 8b; single-group H)
        (F.round(h, 4) + F.lit(0.0)).alias("h"),
        (F.round(h / corr, 4) + F.lit(0.0)).alias("h_corrected"),
    )


@register(
    "q_agg_levene",
    oracle="""
WITH s AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v2 FROM events
), med AS (
  SELECT event_type,
         CAST(ROUND(2 * quantile_cont(v2, 0.5)) AS BIGINT) AS m2
  FROM s GROUP BY event_type
), z AS (
  -- Brown-Forsythe spread scores in exact half-cents: |2x - 2*median|
  SELECT s.event_type, ABS(2 * s.v2 - med.m2) AS z2
  FROM s JOIN med USING (event_type)
), g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(z2) AS DECIMAL(38,0)) AS sm,
         CAST(SUM(z2 * z2) AS DECIMAL(38,0)) AS ss,
         CAST(ROUND(CAST(SUM(z2) AS DOUBLE) * SUM(z2) / COUNT(*), 6)
              AS DECIMAL(38,6)) AS sn
  FROM z GROUP BY event_type
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(SUM(sm) AS DECIMAL(38,0)) AS s_all,
         CAST(SUM(ss) AS DECIMAL(38,0)) AS ss_all,
         CAST(SUM(sn) AS DECIMAL(38,6)) AS sn_all
  FROM g
)
SELECT k, n_total,
       ROUND(((CAST(sn_all AS DOUBLE)
               - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n_total)
              / (k - 1))
             / ((CAST(ss_all AS DOUBLE) - CAST(sn_all AS DOUBLE))
                / (n_total - k)), 4) AS f_bf
FROM t
""",
    doc="Brown-Forsythe test (Levene's test with group medians) for "
    "homogeneity of variance across event types: one-way ANOVA run "
    "on the spread scores z = |x - median_group| — the robust "
    "precondition check for q_agg_anova's equal-variance "
    "assumption. Scores are exact integer half-cents (group "
    "medians of BIGINT cents are .5-exact, so 2x - 2*median is an "
    "integer), making every aggregate below the final F exact; F "
    "is scale-invariant so the x2 factor cancels.",
    scale_notes="One event_type shuffle for the medians (the "
    "q_agg_hist_quantile path at 100 TB), a back-join against the "
    "k-row median ledger (AQE broadcasts it), then the q_agg_anova "
    "mergeable-triple reduction. Two passes over events, k-row "
    "ledgers between.",
)
def q_agg_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v2"),
    )
    med = s.groupBy("event_type").agg(
        F.round(2 * F.expr("percentile(v2, 0.5)"))
        .cast("bigint")
        .alias("m2")
    )
    z = s.join(med, "event_type").select(
        "event_type",
        F.abs(2 * F.col("v2") - F.col("m2")).alias("z2"),
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z2").cast("decimal(38,0)").alias("sm"),
        F.sum(F.col("z2") * F.col("z2")).cast("decimal(38,0)").alias("ss"),
        F.round(
            F.sum("z2").cast("double") * F.sum("z2") / F.count(F.lit(1)),
            6,
        )
        .cast("decimal(38,6)")
        .alias("sn"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum("sm").cast("decimal(38,0)").alias("s_all"),
        F.sum("ss").cast("decimal(38,0)").alias("ss_all"),
        F.sum("sn").cast("decimal(38,6)").alias("sn_all"),
    )
    ssb = (
        F.col("sn_all").cast("double")
        - F.col("s_all").cast("double")
        * F.col("s_all").cast("double")
        / F.col("n_total")
    )
    ssw = F.col("ss_all").cast("double") - F.col("sn_all").cast("double")
    return t.select(
        "k",
        "n_total",
        F.round(
            (ssb / (F.col("k") - 1))
            / (ssw / (F.col("n_total") - F.col("k"))),
            4,
        ).alias("f_bf"),
    )


@register(
    "q_agg_cohens_kappa",
    oracle=rf"""
WITH rated AS (
  SELECT CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS ra,
         CASE WHEN len(regexp_extract_all(text, '\bthe\b')) >= 2
              THEN 1 ELSE 0 END AS rb
  FROM documents
), c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(ra) AS BIGINT) AS a1,
         CAST(SUM(rb) AS BIGINT) AS b1,
         CAST(SUM(ra * rb) AS BIGINT) AS n11
  FROM rated
)
SELECT n AS n_docs, a1 AS n_rater_a, b1 AS n_rater_b, n11 AS n_both,
       {ratio_round4_sql('2 * n11 + n - a1 - b1', 'n', '//')} AS p_o,
       {signed_ratio_round_sql('a1 * b1 + (n - a1) * (n - b1)',
                               'n * n', 4, '//')} AS p_e,
       {signed_ratio_round_sql(
           'n * (2 * n11 + n - a1 - b1) - (a1 * b1 + (n - a1) * (n - b1))',
           'n * n - (a1 * b1 + (n - a1) * (n - b1))', 4, '//')} AS kappa
FROM c
""",
    doc="Cohen's kappa inter-rater agreement between two independent "
    "binary quality raters over the documents table — rater A the "
    "length heuristic (n_chars >= 250), rater B the stopword-density "
    "heuristic (>= 2 occurrences of 'the') — the label-QA statistic "
    "every annotation/autorater pipeline reports before trusting a "
    "quality classifier's training labels (chance-corrected, unlike "
    "raw percent agreement). Everything reduces to four exact integer "
    "counts (n, per-rater positives, joint positives); p_o, p_e and "
    "kappa = (p_o - p_e)/(1 - p_e) are computed from those in double "
    "and rounded once at the end, so the reduction is "
    "order-independent by construction.",
    scale_notes="Zero-shuffle codegen'd flags + one 4-counter global "
    "aggregate (map-side combine to a single row). The same shape "
    "extends to k raters / multi-class via per-pair counters — "
    "counters stay O(1) regardless of corpus size.",
)
def q_agg_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    ra = F.when(F.col("n_chars") >= 250, 1).otherwise(0)
    rb = F.when(
        F.size(F.regexp_extract_all("text", F.lit(r"\bthe\b"), 0)) >= 2, 1
    ).otherwise(0)
    c = docs.select(ra.alias("ra"), rb.alias("rb")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ra").cast("bigint").alias("a1"),
        F.sum("rb").cast("bigint").alias("b1"),
        F.sum(F.col("ra") * F.col("rb")).cast("bigint").alias("n11"),
    )
    # exact integer half-up (rule-8 batch-2 sweep): p_o, p_e and
    # kappa = (p_o - p_e)/(1 - p_e) are pure rationals of the four
    # counts — common denominators n and n*n keep everything in
    # bigints (exact while n < ~3e9 docs; sample beyond).
    return c.select(
        F.col("n").alias("n_docs"),
        F.col("a1").alias("n_rater_a"),
        F.col("b1").alias("n_rater_b"),
        F.col("n11").alias("n_both"),
        F.expr(
            ratio_round4_sql("2 * n11 + n - a1 - b1", "n", "div")
        ).alias("p_o"),
        F.expr(
            signed_ratio_round_sql(
                "a1 * b1 + (n - a1) * (n - b1)", "n * n", 4, "div"
            )
        ).alias("p_e"),
        F.expr(
            signed_ratio_round_sql(
                "n * (2 * n11 + n - a1 - b1)"
                " - (a1 * b1 + (n - a1) * (n - b1))",
                "n * n - (a1 * b1 + (n - a1) * (n - b1))", 4, "div",
            )
        ).alias("kappa"),
    )


_CALIB_SPLIT = "2024-01-20"


@register(
    "q_event_calibration",
    oracle=f"""
WITH train AS (
  SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
         CAST(COUNT(*) AS BIGINT) AS n_tr,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos_tr
  FROM events WHERE ts < TIMESTAMP '{_CALIB_SPLIT}' GROUP BY hod
), test AS (
  SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
         CAST(COUNT(*) AS BIGINT) AS n_te,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos_te
  FROM events WHERE ts >= TIMESTAMP '{_CALIB_SPLIT}' GROUP BY hod
), b AS (
  SELECT test.hod, test.n_te, test.pos_te,
         CAST(train.pos_tr AS DOUBLE) / train.n_tr AS conf,
         CAST(test.pos_te AS DOUBLE) / test.n_te AS acc
  FROM test JOIN train ON train.hod = test.hod
), tot AS (
  SELECT CAST(SUM(n_te) AS BIGINT) AS nt FROM b
)
SELECT tot.nt AS n_test,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       {decimal_mean_round4_sql(
           'CAST(SUM(CAST(ROUND(CAST(n_te AS DOUBLE) / tot.nt'
           ' * ABS(acc - conf), 8) AS DECIMAL(18,8))) * 100000000'
           ' AS BIGINT)', '1', 8, '//')} AS ece,
       ROUND(MAX(ABS(acc - conf)), 4) AS max_gap,
       {decimal_mean_round4_sql(
           'CAST(SUM(CAST(ROUND('
           '(n_te * conf * conf - 2 * conf * pos_te + pos_te)'
           ' / tot.nt, 8) AS DECIMAL(18,8))) * 100000000 AS BIGINT)',
           '1', 8, '//')} AS brier
FROM b CROSS JOIN tot GROUP BY tot.nt
""",
    doc="Probability-calibration backtest (ECE / max-gap / Brier) for "
    "the hour-of-day purchase-rate model: confidences fit on events "
    f"before {_CALIB_SPLIT} (train purchase share per hour), evaluated "
    "on the held-out tail per bucket — expected calibration error is "
    "the test-weighted |accuracy - confidence| sum, Brier the mean "
    "squared error expanded exactly from integer counts (n c^2 - 2 c "
    "pos + pos, since y^2 = y for 0/1 outcomes). Same leak-free time "
    "split as q_event_next_pred (that scores ARGMAX accuracy; this "
    "scores the PROBABILITIES — a model can rank well and still be "
    "miscalibrated). Per-bucket terms ROUND-8 DECIMAL-summed.",
    scale_notes="Two map-combined hour-ledger aggregates (24 rows "
    "each) + constant-size bucket math; the 1-row test total is the "
    "q_filter_ts_cursor crossJoin. Nothing grows with the corpus; "
    "finer bucketings (hour x type) stay ledger-bounded.",
)
def q_event_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    split = F.lit(_CALIB_SPLIT).cast("timestamp")
    is_pos = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    train = (
        ev.filter(F.col("ts") < split)
        .groupBy(F.hour("ts").cast("bigint").alias("hod"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tr"),
            F.sum(is_pos).cast("bigint").alias("pos_tr"),
        )
    )
    test = (
        ev.filter(F.col("ts") >= split)
        .groupBy(F.hour("ts").cast("bigint").alias("hod"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_te"),
            F.sum(is_pos).cast("bigint").alias("pos_te"),
        )
    )
    b = test.join(F.broadcast(train), "hod").select(
        "hod",
        "n_te",
        "pos_te",
        (F.col("pos_tr").cast("double") / F.col("n_tr")).alias("conf"),
        (F.col("pos_te").cast("double") / F.col("n_te")).alias("acc"),
    )
    tot = b.agg(F.sum("n_te").cast("bigint").alias("nt"))
    ece_term = F.round(
        F.col("n_te").cast("double")
        / F.col("nt")
        * F.abs(F.col("acc") - F.col("conf")),
        8,
    ).cast("decimal(18,8)")
    brier_term = F.round(
        (
            F.col("n_te") * F.col("conf") * F.col("conf")
            - 2 * F.col("conf") * F.col("pos_te")
            + F.col("pos_te")
        )
        / F.col("nt"),
        8,
    ).cast("decimal(18,8)")
    return (
        b.crossJoin(F.broadcast(tot))
        .groupBy("nt")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            (F.sum(ece_term) * F.lit(100000000))
            .cast("bigint")
            .alias("se8"),
            F.round(F.max(F.abs(F.col("acc") - F.col("conf"))), 4).alias(
                "max_gap"
            ),
            (F.sum(brier_term) * F.lit(100000000))
            .cast("bigint")
            .alias("sb8"),
        )
        # exact integer half-up of the scale-8 decimal sums (rule-8
        # batch-2 sweep); max_gap stays a float ROUND — it is a MAX of
        # per-bucket fp products, not a constructible rational
        .select(
            F.col("nt").alias("n_test"),
            "n_buckets",
            F.expr(decimal_mean_round4_sql("se8", "1", 8, "div")).alias(
                "ece"
            ),
            "max_gap",
            F.expr(decimal_mean_round4_sql("sb8", "1", 8, "div")).alias(
                "brier"
            ),
        )
    )


@register(
    "q_agg_cohens_d",
    oracle=f"""
WITH s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sm,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
                  * CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS ss
  FROM events WHERE event_type IN ('purchase', 'click')
  GROUP BY event_type
), w AS (
  SELECT MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
         MAX(CASE WHEN event_type = 'purchase' THEN sm END) AS sm1,
         MAX(CASE WHEN event_type = 'purchase' THEN ss END) AS ss1,
         MAX(CASE WHEN event_type = 'click' THEN n END) AS n2,
         MAX(CASE WHEN event_type = 'click' THEN sm END) AS sm2,
         MAX(CASE WHEN event_type = 'click' THEN ss END) AS ss2
  FROM s
), c AS (
  SELECT n1, n2, sm1, sm2,
         CAST(sm1 AS DOUBLE) / n1 AS m1, CAST(sm2 AS DOUBLE) / n2 AS m2,
         (ss1 - CAST(sm1 AS DOUBLE) * sm1 / n1) AS ssd1,
         (ss2 - CAST(sm2 AS DOUBLE) * sm2 / n2) AS ssd2
  FROM w
)
SELECT n1, n2,
       {signed_ratio_round_sql('sm1', '100 * n1', 4, '//')} AS mean_purchase,
       {signed_ratio_round_sql('sm2', '100 * n2', 4, '//')} AS mean_click,
       ROUND((m1 - m2) / SQRT((ssd1 + ssd2) / (n1 + n2 - 2)), 4)
         AS cohens_d,
       ROUND((m1 - m2) / SQRT((ssd1 + ssd2) / (n1 + n2 - 2))
             * (1 - 3.0 / (4 * (n1 + n2) - 9)), 4) AS hedges_g
FROM c
""",
    doc="Standardized effect size (Cohen's d + the small-sample "
    "Hedges' g correction) between purchase and click event values — "
    "the magnitude report that belongs next to q_agg_ttest's "
    "significance verdict (a tiny effect turns 'significant' at "
    "scale; d is scale-free). Pooled SD from the same exact integer "
    "sufficient statistics (n, sum, sum-of-squares of cents) the "
    "t-test uses; all divisions deferred to one final expression, "
    "ROUND-4 once.",
    scale_notes="One two-group map-combined aggregate to a 2-row "
    "ledger, then constant math — the q_agg_ttest envelope. Extends "
    "to every pairwise contrast as a dims^2 ledger, never a second "
    "data pass.",
)
def q_agg_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    s = (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents).cast("bigint").alias("sm"),
            F.sum(cents * cents).cast("bigint").alias("ss"),
        )
    )
    pick = lambda t, c: F.max(  # noqa: E731
        F.when(F.col("event_type") == t, F.col(c))
    )
    w = s.agg(
        pick("purchase", "n").alias("n1"),
        pick("purchase", "sm").alias("sm1"),
        pick("purchase", "ss").alias("ss1"),
        pick("click", "n").alias("n2"),
        pick("click", "sm").alias("sm2"),
        pick("click", "ss").alias("ss2"),
    )
    m1 = F.col("sm1").cast("double") / F.col("n1")
    m2 = F.col("sm2").cast("double") / F.col("n2")
    ssd1 = F.col("ss1") - F.col("sm1").cast("double") * F.col("sm1") / F.col(
        "n1"
    )
    ssd2 = F.col("ss2") - F.col("sm2").cast("double") * F.col("sm2") / F.col(
        "n2"
    )
    d = (m1 - m2) / F.sqrt(
        (ssd1 + ssd2) / (F.col("n1") + F.col("n2") - 2)
    )
    # exact integer half-up (rule-8 batch-2 sweep): the cent-sum
    # means are pure rationals; the d/g effect sizes keep the float
    # ROUND (sqrt chain, not a constructible rational)
    return w.select(
        "n1",
        "n2",
        F.expr(
            signed_ratio_round_sql("sm1", "100 * n1", 4, "div")
        ).alias("mean_purchase"),
        F.expr(
            signed_ratio_round_sql("sm2", "100 * n2", 4, "div")
        ).alias("mean_click"),
        F.round(d, 4).alias("cohens_d"),
        F.round(
            d * (1 - 3.0 / (4 * (F.col("n1") + F.col("n2")) - 9)), 4
        ).alias("hedges_g"),
    )


@register(
    "q_agg_dispersion",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, day
), m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(c) AS BIGINT) AS sc,
         CAST(SUM(c * c) AS BIGINT) AS scc
  FROM daily GROUP BY event_type
)
SELECT event_type, n_days,
       {signed_ratio_round_sql('sc', 'n_days', 4, '//')} AS mean_daily,
       {signed_ratio_round_sql('n_days * scc - sc * sc',
                               '(n_days - 1) * sc', 4, '//')} AS dispersion,
       ((scc - CAST(sc AS DOUBLE) * sc / n_days) / (n_days - 1)
        / (CAST(sc AS DOUBLE) / n_days) - 1)
         * SQRT((n_days - 1) / 2.0) > 1.645 AS overdispersed
FROM m ORDER BY event_type
""",
    doc="Poisson overdispersion test on daily event counts: the "
    "variance-to-mean ratio (index of dispersion) per event type "
    "with the one-sided z screen (ratio-1) x sqrt((n-1)/2) > 1.645 — "
    "the count-model diagnostic that decides whether q_time_anomaly's "
    "thresholds can assume Poisson noise or need a negative-binomial "
    "allowance (bursty arrival processes overdisperse). Exact "
    "integer (n, sum, sum-of-squares) sufficient statistics; all "
    "division deferred to the final expression.",
    scale_notes="Daily-ledger shuffle + a types-row moment "
    "reduction — the q_agg_chisq envelope. Finer grains (hourly, "
    "per-user) stay ledger-bounded.",
)
def q_agg_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("scc"),
    )
    mean = F.col("sc").cast("double") / F.col("n_days")
    disp = (
        (F.col("scc") - F.col("sc").cast("double") * F.col("sc") / F.col("n_days"))
        / (F.col("n_days") - 1)
        / mean
    )
    # exact integer half-up (rule-8 batch-2 sweep): the mean and the
    # dispersion index are pure rationals of the three bigint sums
    # (exact while n_days*scc < 2^63; sample beyond)
    return m.select(
        "event_type",
        "n_days",
        F.expr(
            signed_ratio_round_sql("sc", "n_days", 4, "div")
        ).alias("mean_daily"),
        F.expr(
            signed_ratio_round_sql(
                "n_days * scc - sc * sc", "(n_days - 1) * sc", 4, "div"
            )
        ).alias("dispersion"),
        (
            (disp - 1) * F.sqrt((F.col("n_days") - 1) / F.lit(2.0)) > 1.645
        ).alias("overdispersed"),
    ).orderBy("event_type")


@register(
    "q_agg_quantile_norm",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY event_type, day
), ranked AS (
  SELECT event_type, day, y,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY y ASC, day ASC) AS BIGINT)
           AS rank
  FROM daily
), ref AS (
  SELECT rank,
         (2 * CAST(SUM(y) AS BIGINT) + COUNT(*))
           // (2 * COUNT(*)) AS ref_cents
  FROM ranked GROUP BY rank
)
SELECT r.event_type, r.day, r.rank,
       ROUND(r.y / 100.0, 2) AS orig_dollars,
       ROUND(ref.ref_cents / 100.0, 2) AS normalized_dollars
FROM ranked r JOIN ref USING (rank)
ORDER BY r.event_type, r.rank
""",
    doc="Quantile normalization (the microarray/batch-effect "
    "alignment recipe of Bolstad 2003): each event type's daily "
    "revenues are ranked within type (y then day tie-break), the "
    "reference distribution is the cross-type mean at each rank "
    "(integer half-up cents — the q_time_changepoint mean_x4 "
    "discipline), and every observation maps to its rank's "
    "reference value — after which all types share EXACTLY the same "
    "distribution and only ordering differs. The preprocessing that "
    "makes cross-segment comparisons distribution-free, upstream of "
    "q_agg_ks_test/q_agg_spearman.",
    scale_notes="One type-partitioned window (daily ledger) + a "
    "ranks-row reference ledger joined back — all ledger-sized. "
    "More types widen the rank groups, never the shuffle.",
)
def q_agg_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("y").asc(), F.col("day").asc()
    )
    ranked = daily.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    )
    ref = ranked.groupBy("rank").agg(
        F.expr(
            "(2 * cast(sum(y) as bigint) + count(*))"
            " div (2 * count(*))"
        ).alias("ref_cents")
    )
    return (
        ranked.join(ref, "rank")
        .select(
            "event_type",
            "day",
            "rank",
            F.round(F.col("y") / 100.0, 2).alias("orig_dollars"),
            F.round(F.col("ref_cents") / 100.0, 2).alias(
                "normalized_dollars"
            ),
        )
        .orderBy("event_type", "rank")
    )


@register(
    "q_time_stl_strength",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY event_type, day
), tr AS (
  SELECT event_type, day, y,
         CAST(SUM(y) OVER w AS BIGINT) AS s7,
         COUNT(*) OVER w AS n7
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), det AS (
  SELECT event_type, day, y, isodow(day) AS dow,
         ROUND(y - s7 / 7.0, 6) AS detr
  FROM tr WHERE n7 = 7
), seas AS (
  SELECT event_type, dow,
         SUM(CAST(detr AS DECIMAL(24,6))) AS sd,
         CAST(COUNT(*) AS BIGINT) AS nw
  FROM det GROUP BY event_type, dow
), parts AS (
  SELECT det.event_type,
         ROUND(det.detr - CAST(seas.sd AS DOUBLE) / seas.nw, 6) AS r,
         ROUND(det.y - CAST(seas.sd AS DOUBLE) / seas.nw, 6) AS tr_r
  FROM det JOIN seas ON seas.event_type = det.event_type
                    AND seas.dow = det.dow
), v AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(ROUND(r, 8) AS DECIMAL(24,8))) AS sr,
         SUM(CAST(ROUND(r * r, 8) AS DECIMAL(24,8))) AS srr,
         SUM(CAST(ROUND(tr_r, 8) AS DECIMAL(24,8))) AS st,
         SUM(CAST(ROUND(tr_r * tr_r, 8) AS DECIMAL(24,8))) AS stt
  FROM parts GROUP BY event_type
), det_v AS (
  SELECT event_type,
         SUM(CAST(ROUND(detr, 8) AS DECIMAL(24,8))) AS sdt,
         SUM(CAST(ROUND(detr * detr, 8) AS DECIMAL(24,8))) AS sdd
  FROM det GROUP BY event_type
)
SELECT v.event_type, v.n AS n_days,
       ROUND(GREATEST(0,
         1 - ((CAST(v.srr AS DOUBLE) - CAST(v.sr AS DOUBLE)
               * CAST(v.sr AS DOUBLE) / v.n) / v.n)
             / ((CAST(v.stt AS DOUBLE) - CAST(v.st AS DOUBLE)
                 * CAST(v.st AS DOUBLE) / v.n) / v.n)), 4) AS f_trend,
       ROUND(GREATEST(0,
         1 - ((CAST(v.srr AS DOUBLE) - CAST(v.sr AS DOUBLE)
               * CAST(v.sr AS DOUBLE) / v.n) / v.n)
             / ((CAST(det_v.sdd AS DOUBLE) - CAST(det_v.sdt AS DOUBLE)
                 * CAST(det_v.sdt AS DOUBLE) / v.n) / v.n)), 4)
         AS f_seasonal
FROM v JOIN det_v USING (event_type) ORDER BY v.event_type
""",
    doc="STL-style strength-of-components summary (Hyndman's "
    "F_trend / F_seasonal): each type's daily revenue decomposes "
    "into a centered 7-day moving-average trend (full windows "
    "only, exact integer window sums / 7), an ISO-weekday seasonal "
    "component (mean of the ROUND-6 detrended series per weekday, "
    "DECIMAL-summed), and a residual; strengths are "
    "max(0, 1 - Var(R)/Var(X+R)) with every variance built from "
    "ROUND-8 DECIMAL moment sums. One number each for 'is there a "
    "trend' and 'is there weekly seasonality' — the triage ahead "
    "of q_time_seasonal's full profile and q_time_holt's "
    "forecasting.",
    scale_notes="Daily ledger shuffle + ledger windows + a "
    "(type, weekday) seasonal ledger — nothing beyond the "
    "q_time_mad envelope. Longer seasonalities swap the weekday "
    "key; the moving average stays a bounded window frame.",
)
def q_time_stl_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    det = (
        daily.select(
            "event_type",
            "day",
            "y",
            F.sum("y").over(w7).cast("bigint").alias("s7"),
            F.count(F.lit(1)).over(w7).alias("n7"),
        )
        .filter(F.col("n7") == 7)
        .select(
            "event_type",
            "day",
            "y",
            (F.weekday("day") + 1).alias("dow"),
            F.round(F.col("y") - F.col("s7") / 7.0, 6).alias("detr"),
        )
    )
    seas = det.groupBy("event_type", "dow").agg(
        F.sum(F.col("detr").cast("decimal(24,6)")).alias("sd"),
        F.count(F.lit(1)).cast("bigint").alias("nw"),
    )
    parts = det.join(seas, ["event_type", "dow"]).select(
        "event_type",
        F.round(
            F.col("detr") - F.col("sd").cast("double") / F.col("nw"), 6
        ).alias("r"),
        F.round(
            F.col("y") - F.col("sd").cast("double") / F.col("nw"), 6
        ).alias("tr_r"),
    )
    dec8 = lambda c: F.round(c, 8).cast("decimal(24,8)")  # noqa: E731
    v = parts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec8(F.col("r"))).alias("sr"),
        F.sum(dec8(F.col("r") * F.col("r"))).alias("srr"),
        F.sum(dec8(F.col("tr_r"))).alias("st"),
        F.sum(dec8(F.col("tr_r") * F.col("tr_r"))).alias("stt"),
    )
    det_v = det.groupBy("event_type").agg(
        F.sum(dec8(F.col("detr"))).alias("sdt"),
        F.sum(dec8(F.col("detr") * F.col("detr"))).alias("sdd"),
    )

    def var(sx: str, sxx: str) -> F.Column:
        return (
            F.col(sxx).cast("double")
            - F.col(sx).cast("double") * F.col(sx).cast("double") / F.col("n")
        ) / F.col("n")

    return (
        v.join(det_v, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.round(
                F.greatest(
                    F.lit(0), 1 - var("sr", "srr") / var("st", "stt")
                ),
                4,
            ).alias("f_trend"),
            F.round(
                F.greatest(
                    F.lit(0), 1 - var("sr", "srr") / var("sdt", "sdd")
                ),
                4,
            ).alias("f_seasonal"),
        )
        .orderBy("event_type")
    )
