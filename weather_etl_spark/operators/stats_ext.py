"""Statistical aggregates II + corpus capping (SURVEY.md §2 B.12,
round 6 second batch): per-domain document caps, a correlation matrix,
and weighted medians.

Each re-expresses a computation the reference's downstream consumers
(lambda_function.py:151-175 lands frames for BI/analysis) run on the
landed data, as one exact-oracled declarative plan:

- q_llm_domain_cap: cap documents per source domain at k by quality —
  the anti-domain-dominance gate every crawl mix applies;
- q_agg_corr_matrix: pairwise Pearson correlations of the lineitem
  measures per return flag — the one-pass multi-metric profile;
- q_agg_weighted_median: quantity-weighted median price via the
  cumulative-weight crossing rule, deterministic under ties through
  a RANGE (peers-inclusive) frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_etl_spark.functions.exact import md5_prefix_int
from weather_etl_spark.io import read_table
from weather_etl_spark.registry import register

#: Documents retained per source domain by the cap.
_DOMAIN_CAP_K = 5


@register(
    "q_llm_domain_cap",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
)
SELECT doc_id, source, n_chars, rk
FROM ranked WHERE rk <= {_DOMAIN_CAP_K}
""",
    doc=f"Per-domain document cap: keep the top {_DOMAIN_CAP_K} "
    "documents of each source domain by quality proxy (length desc, "
    "doc_id tie-break) — the standard anti-dominance gate that stops "
    "one crawl domain from swamping the pretraining mix. Pure "
    "rank-filter, so the retained set is deterministic and "
    "re-derivable.",
    scale_notes="rank<=k compiles to WindowGroupLimit: each input "
    "partition keeps a k-row heap per domain BEFORE the domain "
    "shuffle, so the exchange carries at most k x partitions rows "
    "per domain, not the corpus. Plan-asserted; same shape as "
    "q_topk_group.",
)
def q_llm_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        docs.select(
            "doc_id", "source", "n_chars", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= _DOMAIN_CAP_K)
    )


@register(
    "q_agg_corr_matrix",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n,
       ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       ROUND(corr(l_quantity, l_discount), 4) + 0.0 AS corr_qty_disc,
       ROUND(corr(l_extendedprice, l_tax), 4) + 0.0 AS corr_price_tax,
       ROUND(corr(l_discount, l_tax), 4) + 0.0 AS corr_disc_tax
FROM lineitem GROUP BY l_returnflag
""",
    doc="Pairwise Pearson correlation matrix of the lineitem "
    "measures (quantity/price/discount/tax) per return flag — the "
    "multi-metric statistical profile computed in ONE grouped pass: "
    "every corr() is an algebraic aggregate (sums of x, y, xy, x2, "
    "y2), so all four pairs share the same shuffle.",
    scale_notes="One map-side-combined exchange on the 3-value flag; "
    "each partial state is 6 doubles per pair. Correlation over "
    "billions of rows is exactly this shape on any engine — the "
    "whole matrix costs one pass regardless of pair count.",
)
def q_agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    zero = F.lit(0.0)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
            "corr_qty_price"
        ),
        (F.round(F.corr("l_quantity", "l_discount"), 4) + zero).alias(
            "corr_qty_disc"
        ),
        (F.round(F.corr("l_extendedprice", "l_tax"), 4) + zero).alias(
            "corr_price_tax"
        ),
        (F.round(F.corr("l_discount", "l_tax"), 4) + zero).alias(
            "corr_disc_tax"
        ),
    )


@register(
    "q_agg_weighted_median",
    oracle="""
WITH cum AS (
  SELECT l_returnflag, l_extendedprice, l_quantity,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag
           ORDER BY l_extendedprice
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
  FROM lineitem
)
SELECT l_returnflag,
       ROUND(MIN(l_extendedprice), 4) AS weighted_median_price,
       ROUND(MAX(tw), 4) AS total_weight
FROM cum WHERE 2 * cw >= tw
GROUP BY l_returnflag
""",
    doc="Quantity-weighted median of the extended price per return "
    "flag: the smallest price whose inclusive cumulative weight "
    "reaches half the group's total — the weighted generalization "
    "of q_agg_median. The RANGE frame makes the cumulative weight "
    "peers-inclusive, so equal prices share one cumulative value "
    "and the crossing price is deterministic under any tie order.",
    scale_notes="One l_returnflag shuffle + per-partition sort (the "
    "window) and a trivial re-aggregate. At 100 TB with few groups, "
    "salt the sort into price-range buckets and pick the crossing "
    "bucket from the bounded bucket ledger — the q_llm_token_budget "
    "bin decomposition applies verbatim to any weighted quantile.",
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("l_returnflag")
    cum = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("l_quantity").over(w_cum).alias("cw"),
        F.sum("l_quantity").over(w_tot).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_extendedprice"), 4).alias(
                "weighted_median_price"
            ),
            F.round(F.max("tw"), 4).alias("total_weight"),
        )
    )


@register(
    "q_agg_entropy",
    oracle="""
WITH cnt AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM events GROUP BY user_id, event_type
), tot AS (
  SELECT user_id, event_type, c,
         SUM(c) OVER (PARTITION BY user_id) AS t
  FROM cnt
)
SELECT user_id,
       CAST(MAX(t) AS BIGINT) AS n_events,
       COUNT(*) AS n_types,
       ROUND(-SUM((CAST(c AS DOUBLE) / t) * ln(CAST(c AS DOUBLE) / t)), 4)
         + 0.0 AS entropy_nats
FROM tot GROUP BY user_id
""",
    doc="Shannon entropy of each user's event-type distribution "
    "(behavioral diversity score): H = -sum p ln p over the user's "
    "observed type frequencies, in nats. A single-type user scores "
    "0 (the +0.0 canonicalizes the IEEE -0.0 that -1*ln(1) "
    "produces); uniform use of all 5 types scores ln 5 ~ 1.609.",
    scale_notes="Two-phase: the (user, type) count partial-aggregates "
    "map-side, then one user_id exchange serves both the total window "
    "and the entropy re-aggregate. Shuffle rows = users x observed "
    "types (<=5 per user), never events.",
)
def q_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("user_id")
    tot = cnt.withColumn("t", F.sum("c").over(w))
    p = F.col("c").cast("double") / F.col("t")
    return tot.groupBy("user_id").agg(
        F.max("t").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        (F.round(-F.sum(p * F.log(p)), 4) + F.lit(0.0)).alias(
            "entropy_nats"
        ),
    )


@register(
    "q_event_rfm",
    oracle="""
WITH anchor AS (
  SELECT MAX(ts) AS t_max FROM events
), per_user AS (
  SELECT user_id,
         date_diff('day', CAST(MAX(ts) AS DATE),
                   CAST((SELECT t_max FROM anchor) AS DATE)) AS recency_days,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS frequency,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                            THEN ROUND(value * 100) END), 0) AS BIGINT)
           AS monetary_cents
  FROM events GROUP BY user_id
)
SELECT user_id, recency_days, frequency, monetary_cents,
       ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
       ntile(5) OVER (ORDER BY frequency, user_id) AS f_score,
       ntile(5) OVER (ORDER BY monetary_cents, user_id) AS m_score
FROM per_user
""",
    doc="RFM customer scoring: per user the days since their last "
    "event (vs the corpus max timestamp), purchase count, and "
    "purchase revenue in cents, each quintile-ranked 1-5 (higher = "
    "better: most recent / most frequent / highest spend land in "
    "quintile 5) with a user_id tie-break so the banding is "
    "deterministic.",
    scale_notes="One user_id reduce over events (map-side combined), "
    "then ntile windows over the USER ledger — customer-dim scale, "
    "not event scale. At 1e9 users replace exact ntile with the "
    "q_llm_token_budget bin-ledger decomposition (quantile "
    "thresholds from a bounded histogram, then a zero-shuffle "
    "classify); the exact form here is the oracle for that rewrite. "
    "The 1-row anchor joins via the q_filter_ts_cursor pattern.",
)
def q_event_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("t_max"))
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("t_last"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "frequency"
        ),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("monetary_cents"),
    )
    joined = per_user.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.datediff(F.to_date("t_max"), F.to_date("t_last")).alias(
            "recency_days"
        ),
        "frequency",
        "monetary_cents",
    )
    return joined.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(5)
        .over(Window.orderBy(F.desc("recency_days"), F.asc("user_id")))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("frequency"), F.asc("user_id")))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("monetary_cents"), F.asc("user_id")))
        .alias("m_score"),
    )


@register(
    "q_agg_winsorize",
    oracle="""
WITH bounds AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS p05,
         quantile_cont(l_extendedprice, 0.95) AS p95
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       COUNT(*) AS n,
       CAST(COUNT(CASE WHEN l_extendedprice < p05 THEN 1 END) AS BIGINT)
         AS n_clipped_low,
       CAST(COUNT(CASE WHEN l_extendedprice > p95 THEN 1 END) AS BIGINT)
         AS n_clipped_high,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 4) AS mean_raw,
       ROUND(CAST(SUM(CAST(LEAST(GREATEST(l_extendedprice, p05), p95)
                           AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 4) AS mean_winsorized
FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
GROUP BY l.l_returnflag
""",
    doc="Winsorized (clipped) robust statistics: per return flag the "
    "5th/95th interpolated percentiles of the extended price bound "
    "every value, and the raw vs winsorized means are compared along "
    "with how many rows each tail clipped — the outlier-robust "
    "preprocessing step for price-sensitive models. DECIMAL(18,6) "
    "sums keep both means association-order-exact.",
    scale_notes="Pass 1 computes the bounded per-group percentile "
    "ledger (3 rows); pass 2 re-scans with the ledger joined back — "
    "AQE broadcasts it unhinted, so the clip is a map-side "
    "expression and the final aggregate map-side combines. At "
    "100 TB swap the exact percentile for percentile_approx and the "
    "shape is unchanged.",
)
def q_agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    bounds = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.05)").alias("p05"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
    )
    clipped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95")
    )
    return (
        li.join(bounds, "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("l_extendedprice") < F.col("p05"), 1))
            .cast("bigint")
            .alias("n_clipped_low"),
            F.count(F.when(F.col("l_extendedprice") > F.col("p95"), 1))
            .cast("bigint")
            .alias("n_clipped_high"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                4,
            ).alias("mean_raw"),
            F.round(
                F.sum(clipped.cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_winsorized"),
        )
    )


#: Hashed feature space size for the hashing-trick vectorizer.
_FEAT_BUCKETS = 64


@register(
    "q_llm_feature_hash",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
)
SELECT doc_id,
       CAST(('0x' || substr(md5(token), 1, 4)) AS INT) % {_FEAT_BUCKETS}
         AS feature,
       COUNT(*) AS weight
FROM tok WHERE token <> ''
GROUP BY doc_id, feature
""",
    doc="Hashing-trick feature vectorization (the vocabulary-free "
    "text featurizer): every token maps to one of "
    f"{_FEAT_BUCKETS} feature slots by an md5-derived bucket — "
    "identical across engines, unlike murmur-based hashingTF — and "
    "each document emits its sparse (feature, count) vector rows. "
    "No vocabulary table, no fitting pass: the property that makes "
    "feature hashing THE vectorizer for unbounded streams.",
    scale_notes="One map-side-combined shuffle on (doc_id, feature) "
    "— at most {_FEAT_BUCKETS} rows survive per document regardless "
    "of document length, so shuffle volume is bounded by docs x "
    "buckets, never tokens. Zero global state is the point: "
    "scaling the corpus touches nothing.",
)
def q_llm_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    feature = (
        md5_prefix_int("token", 4).cast("int") % _FEAT_BUCKETS
    )
    return tok.groupBy("doc_id", feature.alias("feature")).agg(
        F.count(F.lit(1)).alias("weight")
    )


@register(
    "q_agg_anova",
    oracle="""
WITH cents AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c FROM events
), g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS DECIMAL(38,0)) AS s,
         CAST(SUM(c * c) AS DECIMAL(38,0)) AS ss,
         CAST(ROUND(CAST(SUM(c) AS DOUBLE) * SUM(c) / COUNT(*), 6)
              AS DECIMAL(38,6)) AS sn
  FROM cents GROUP BY event_type
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(SUM(s) AS DECIMAL(38,0)) AS s_all,
         CAST(SUM(ss) AS DECIMAL(38,0)) AS ss_all,
         CAST(SUM(sn) AS DECIMAL(38,6)) AS sn_all
  FROM g
)
SELECT k, n_total,
       ROUND((CAST(sn_all AS DOUBLE)
              - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n_total)
             / 10000, 4) AS ss_between,
       ROUND((CAST(ss_all AS DOUBLE) - CAST(sn_all AS DOUBLE)) / 10000, 4)
         AS ss_within,
       ROUND(((CAST(sn_all AS DOUBLE)
               - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n_total)
              / (k - 1))
             / ((CAST(ss_all AS DOUBLE) - CAST(sn_all AS DOUBLE))
                / (n_total - k)), 4) AS f_stat,
       ROUND((CAST(sn_all AS DOUBLE)
              - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n_total)
             / (CAST(ss_all AS DOUBLE)
                - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n_total),
             4) AS eta_sq
FROM t
""",
    doc="One-way ANOVA of event value across event types: the "
    "F-statistic (between-group over within-group mean square) and "
    "eta-squared effect size, from the sufficient statistics "
    "(n, sum, sum-of-squares) per group — the k-sample extension "
    "of q_agg_ttest's two-sample comparison. Values are exact "
    "integer cents through both aggregation levels (per-group "
    "sum/sumsq are DECIMAL(38,0); the one float per-group term "
    "s^2/n is ROUND-6 DECIMAL-summed), so the k-row reduction is "
    "order-independent; sums of squares are reported in dollars^2.",
    scale_notes="Textbook mergeable aggregate: one event_type "
    "shuffle carrying (n, sum, sumsq) partials, then a k-row "
    "ledger reduction — the same two-level shape as the portable "
    "sketches. No per-row state beyond the running triple at any "
    "scale. Presentation boundary (measured, r7 adversarial "
    "battery): once sum(c^2) exceeds 2^53 the final "
    "DECIMAL->DOUBLE casts stop being exact and Spark (Java "
    "correctly-rounded) vs DuckDB (int128-scaled, twice-rounded) "
    "can differ by one ulp, flipping ROUND's 4th decimal; the "
    "statistics stay exact in the decimal ledger. Beyond that "
    "magnitude report the cents^2-scaled BIGINT ledger instead of "
    "rounded dollars^2 doubles.",
)
def q_agg_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    cents = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    g = cents.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("decimal(38,0)").alias("ss"),
        F.round(
            F.sum("c").cast("double") * F.sum("c") / F.count(F.lit(1)), 6
        )
        .cast("decimal(38,6)")
        .alias("sn"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum("s").cast("decimal(38,0)").alias("s_all"),
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
        F.round(ssb / 10000, 4).alias("ss_between"),
        F.round(ssw / 10000, 4).alias("ss_within"),
        F.round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("n_total") - F.col("k"))),
            4,
        ).alias("f_stat"),
        F.round(ssb / (ssb + ssw), 4).alias("eta_sq"),
    )
