"""UDF / UDAF / UDTF surface (SURVEY.md §2 B.10).

The slow-path hierarchy, demonstrated and oracled:
- scalar Python UDF (row-at-a-time — kept out of hot paths, shown for
  parity with the reference's per-row NaN conversion, A10/A13),
- vectorized Pandas UDF (Arrow batches — the acceptable Python path),
- grouped-aggregate Pandas UDF (per-group numpy reduction),
- mapInPandas batch-iterator transform (the A4 assembly shape).

Scale notes (100 TB): every Python stage pays an Arrow serialization
round-trip; the engine uses built-ins everywhere it can and reserves
these for logic Spark genuinely lacks. Pandas UDFs parallelize per
Arrow batch per core — no driver bottleneck.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from weather_etl_spark.io import read_table
from weather_etl_spark.registry import register


@F.udf(T.StringType(), useArrow=False)
def _band_udf(price: float) -> str:
    if price is None:
        return None
    if price < 50000:
        return "low"
    if price < 200000:
        return "mid"
    return "high"


@register(
    "q_udf_py",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 200000 THEN 'mid'
            ELSE 'high' END AS band
FROM orders
""",
    doc="Scalar Python UDF (price-band labeler); oracle is the same "
    "CASE expression in SQL.",
)
def q_udf_py(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", _band_udf("o_totalprice").alias("band"))


@F.pandas_udf(T.DoubleType())
def _log_scale_udf(v: pd.Series) -> pd.Series:
    import numpy as np

    return np.round(np.log1p(v) * 2.0, 4)


@register(
    "q_udf_pandas",
    oracle="""
SELECT event_id, ROUND(ln(1 + value) * 2.0, 4) AS log_scaled
FROM events
""",
    doc="Vectorized Pandas UDF (Arrow batch transfer): numpy log1p over "
    "the value column — the A1 numpy-vector path in UDF form.",
)
def q_udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", _log_scale_udf("value").alias("log_scaled")
    )


@F.pandas_udf(T.DoubleType())
def _weighted_mean_udf(v: pd.Series, w: pd.Series) -> float:
    import numpy as np

    return float(np.round(np.sum(v * w) / np.sum(w), 4))


@register(
    "q_udaf_pandas",
    oracle="""
SELECT event_type,
       ROUND(SUM(value * (1 + user_id % 3)) / SUM(1 + user_id % 3), 4)
         AS wmean
FROM events GROUP BY event_type
""",
    doc="Grouped-aggregate Pandas UDF: per-group weighted mean "
    "(weights derived deterministically from user_id).",
)
def q_udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").withColumn(
        "w", (F.lit(1) + F.col("user_id") % 3).cast("double")
    )
    return ev.groupBy("event_type").agg(
        _weighted_mean_udf("value", "w").alias("wmean")
    )


@register(
    "udtf_mapinpandas",
    oracle="""
SELECT doc_id, n_chars * 2 AS derived
FROM documents
""",
    doc="Batch-iterator transform (mapInPandas) re-implementing the "
    "reference's columnar assembly (A4, lambda_function.py:105-122): "
    "per-Arrow-batch columnar math, exact integer oracle.",
)
def udtf_mapinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "derived": pdf["n_chars"] * 2}
            )

    return docs.mapInPandas(assemble, schema="doc_id long, derived long")


@register(
    "q_udtf_py",
    oracle="""
WITH e AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token,
         CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT)
           AS pos
  FROM documents WHERE doc_id <= 20
)
SELECT doc_id, token, pos FROM e WHERE length(token) >= 6
""",
    doc="Python UDTF (table function): tokenize(text) lateral-joined "
    "per document, emitting (token, pos) rows for tokens of length >= "
    "6 — the UDTF analogue of the columnar assembly loop (A4, "
    "/root/reference/lambda_function.py:105-122). Oracle is DuckDB "
    "unnest WITH ORDINALITY.",
    scale_notes="UDTFs run partition-parallel like any projection; each "
    "eval sees one row and yields its expansion, so memory is O(row), "
    "never O(table). Prefer built-in explode when semantics allow — "
    "the UDTF exists for logic explode can't express.",
)
def q_udtf_py(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, pos bigint")
    class Tokenize:
        def eval(self, text: str):
            for pos, token in enumerate(text.split(" ")):
                if len(token) >= 6:
                    yield token, pos

    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") <= 20)
        .select("doc_id", "text")
    )
    docs.createOrReplaceTempView("udtf_docs_in")
    spark.udtf.register("tokenize_udtf", Tokenize)
    return spark.sql(
        """
        SELECT d.doc_id, t.token, t.pos
        FROM udtf_docs_in d,
             LATERAL tokenize_udtf(d.text) t
        """
    )


@register(
    "q_udf_arrow",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 200000 THEN 'mid'
            ELSE 'high' END AS band
FROM orders
""",
    doc="Arrow-optimized Python UDF (useArrow=True): same scalar "
    "semantics as q_udf_py but serialized over Arrow batches instead "
    "of pickled rows — the drop-in migration for legacy row UDFs that "
    "cannot be vectorized. Same oracle as q_udf_py.",
    scale_notes="Arrow transfer removes the per-row pickle tax (the "
    "dominant cost of q_udf_py) while keeping row-at-a-time Python "
    "logic; still slower than pandas_udf's vectorized compute, which "
    "remains the preferred Python path.",
)
def q_udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.udf(T.StringType(), useArrow=True)
    def band(price: float) -> str:
        if price is None:
            return None
        if price < 50000:
            return "low"
        if price < 200000:
            return "mid"
        return "high"

    o = read_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", band("o_totalprice").alias("band"))


@register(
    "q_udf_grouped_map",
    oracle="""
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
), p AS (
  SELECT c_custkey, c_mktsegment,
         cents * (COUNT(*) OVER w) - (SUM(cents) OVER w) AS num,
         100 * (COUNT(*) OVER w) AS den
  FROM c
  WINDOW w AS (PARTITION BY c_mktsegment)
)
SELECT c_custkey,
       c_mktsegment,
       CAST(CASE WHEN num >= 0
                 THEN (2 * num * 10000 + den) // (2 * den)
                 ELSE -((2 * (-num) * 10000 + den) // (2 * den))
            END AS DOUBLE) / 10000 AS bal_centered
FROM p
""",
    doc="Grouped-map applyInPandas: per-segment mean-centering of "
    "account balances — each group arrives as ONE pandas DataFrame, "
    "the full-group custom transform that window functions cannot "
    "always express (here it can, which is what makes the exact "
    "window oracle possible). §7.4 exactness, hardened twice by the "
    "sf0.001 sweep: (1) a float group MEAN is accumulation-order-"
    "dependent (pandas pairwise vs DuckDB AVG differ by an ulp), so "
    "both sides center via the integer-cents identity "
    "cents*n - sum_cents; (2) that identity makes exact decimal TIES "
    "systematic (denominator 100n), where Spark's shortest-repr "
    "half-up and DuckDB's binary-value rounding disagree — so the "
    "4-dp round itself is integer arithmetic (half-away via "
    "(2|p|*10^4 + q) // 2q), and only the final /10^4 is float.",
    scale_notes="applyInPandas materializes each GROUP in executor "
    "memory — bounded by the largest group, not the table; skewed "
    "groups need salting or a two-pass broadcast-stats rewrite "
    "(compute group means with a regular agg, broadcast, subtract — "
    "same result, no group materialization). Python sees Arrow "
    "batches per group, never the driver.",
)
def q_udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        out = pdf[["c_custkey", "c_mktsegment"]].copy()
        cents = (pdf["c_acctbal"] * 100).round().astype("int64")
        n = len(cents)
        num = (cents * n - cents.sum()) * 10000
        den = 100 * n
        r = np.where(
            num >= 0,
            (2 * num + den) // (2 * den),
            -((-2 * num + den) // (2 * den)),
        )
        out["bal_centered"] = r / 10000.0
        return out

    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    return cust.groupBy("c_mktsegment").applyInPandas(
        center, "c_custkey long, c_mktsegment string, bal_centered double"
    )


@register(
    "q_udf_pandas_iter",
    oracle="""
SELECT event_id, ROUND(ln(1 + value) * 2.0, 4) AS log_scaled
FROM events
""",
    doc="Iterator-form Pandas UDF (SCALAR_ITER): the same log1p "
    "computation as q_udf_pandas, but the UDF receives an iterator "
    "of Arrow batches and yields per batch — the API variant for "
    "expensive per-task initialization (load a model once, stream "
    "batches through it), which is exactly how model-scoring stages "
    "in a training-data pipeline amortize weight loading. Identical "
    "oracle to the scalar form: the API changes, the relation must "
    "not.",
    scale_notes="Same Arrow transfer economics as SCALAR pandas "
    "UDFs plus one-time per-task setup amortized across all "
    "batches — the pattern that makes executor-side model scoring "
    "viable at 100 TB (init cost / task, not / batch).",
)
def q_udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def log_scaled_iter(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        # one-time per-task "initialization" (stands in for a model
        # load); the constant must match the oracle's * 2.0
        scale = 2.0
        for s in it:
            yield pd.Series(np.log1p(s.to_numpy()) * scale)

    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round(log_scaled_iter(F.col("value")), 4).alias("log_scaled"),
    )


@register(
    "udtf_mapinarrow",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(length(text) AS BIGINT) AS n_chars_py,
       CAST(octet_length(encode(source)) AS BIGINT) AS src_bytes
FROM documents
""",
    doc="mapInArrow API surface (the zero-copy sibling of "
    "udtf_mapinpandas): the transform consumes pyarrow RecordBatches "
    "directly and computes byte/char lengths with pyarrow.compute "
    "kernels — no pandas materialization, no Python-object row, the "
    "lowest-overhead Python hook Spark offers. Functionally a "
    "projection (oracle recomputes the lengths in SQL), so the "
    "tested contract is the batch-level Arrow plumbing: schema "
    "declaration, batch iteration, kernel vectorization.",
    scale_notes="Arrow batches stream executor-side at "
    "maxRecordsPerBatch granularity; pyarrow.compute runs C++ "
    "kernels, so per-row Python cost is zero. The right surface for "
    "byte-heavy transforms (multimodal payloads) where even pandas "
    "Series materialization would double memory.",
)
def udtf_mapinarrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )

    def measure(batches: "Iterator[pa.RecordBatch]"):
        for batch in batches:
            text = batch.column("text")
            src = batch.column("source")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.binary_length(pc.cast(text, pa.binary())),
                            pa.int64()),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.binary_length(pc.cast(src, pa.binary())),
                            pa.int64()),
                ],
                names=["doc_id", "n_bytes", "n_chars_py", "src_bytes"],
            )

    return docs.mapInArrow(
        measure,
        "doc_id long, n_bytes long, n_chars_py long, src_bytes long",
    )


_SQLPARAM_CUT = "2024-01-15"
_SQLPARAM_TYPES = ["purchase", "click"]


@register(
    "q_sql_params",
    oracle=f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
WHERE ts >= TIMESTAMP '{_SQLPARAM_CUT}'
  AND event_type IN ('purchase', 'click')
GROUP BY event_type ORDER BY event_type
""",
    doc="Parameterized SQL surface (Spark 4 named parameter markers): "
    "the query text carries :cut and :types placeholders and the "
    "values bind via spark.sql(..., args=...) — the injection-safe "
    "templating surface BI layers and notebook tooling rely on "
    "(literals never string-concatenate into the query). The oracle "
    "is the same query with the parameters inlined, proving binding "
    "equals literal semantics.",
    scale_notes="Parameters bind at parse time, so Catalyst sees "
    "plain literals: filter pushdown, partition pruning, and "
    "constant folding all work exactly as with inlined SQL — "
    "parameterization costs nothing at any scale.",
)
def q_sql_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM {ev}
        WHERE ts >= CAST(:cut AS TIMESTAMP)
          AND array_contains(:types, event_type)
        GROUP BY event_type ORDER BY event_type
        """,
        args={"cut": _SQLPARAM_CUT, "types": _SQLPARAM_TYPES},
        ev=ev,
    )
