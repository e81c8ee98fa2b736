"""Vector-similarity operators over the embeddings table
(SURVEY.md §2 B.9; PAPERS.md top-k similarity corpus).

- pairwise cosine similarity above a threshold (self-join, Arrow-
  vectorized scoring),
- brute-force cosine top-k for a fixed probe set (the ANN baseline,
  JVM-only higher-order functions),
- blocked-matmul kNN via mapInPandas (bit-identical to brute force,
  lossless per-block top-k pruning — the vectorized-scan scale shape),
- multi-probe random-hyperplane LSH ANN (recall 1.0 at test SFs),
- IVF ANN with a deterministic DataFrame-native Lloyd quantizer,
- per-label centroids (posexplode/agg/reassemble).

Two cosine implementations with IDENTICAL IEEE arithmetic: the
higher-order-function :func:`cosine` (JVM, zero Python) and the numpy
kernel ``functions/exact.cosine_rows``/``cosine_matrix`` under every
Arrow batch (pandas UDFs, mapInPandas, applyInPandas; ~50x faster on
O(n²) pair scoring). Both reduce the dimension axis strictly left to
right, as DuckDB does, so either can sit under an exact oracle (FP
contract: ``functions/exact.ltr_dot``).

Scale notes (100 TB): probe sets/matrices are broadcast, so every kNN
variant is a single scan of the candidate side (no n² shuffle); LSH
and IVF bound the scan itself to candidate buckets/cells; recall for
both is measured against brute force in the tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from weather_etl_spark.functions.exact import (
    cosine_matrix,
    cosine_rows,
    decimal_mean_round4_sql,
    f64_matrix,
    ltr_norm,
    ratio_round4_sql,
    signed_ratio_round_sql,
)
from weather_etl_spark.io import read_table
from weather_etl_spark.registry import register


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision (left-to-right, engine-portable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm2(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm2(a) * norm2(b))


@F.pandas_udf(T.DoubleType())
def cosine_pandas(a: pd.Series, b: pd.Series) -> pd.Series:
    """Row-pair cosine over Arrow batches: :func:`cosine`'s values from
    the numpy kernel (``functions/exact.cosine_rows``)."""
    if len(a) == 0:  # np.stack needs >=1 array; empty batch -> empty
        return pd.Series([], dtype="float64")
    return pd.Series(cosine_rows(f64_matrix(a), f64_matrix(b)))


def assign_cell(centroids: list[list[float]]):
    """Pandas UDF ``vector -> struct(cell int, cos double)``: the
    max-cosine centroid and its cosine, exactly as Spark's
    ``array_max(array(struct(cosine(v, c_i), i), ...))`` picks it — a
    zero-norm cosine is ``x / 0`` = NULL and ranks lowest, a NaN one
    (NaN elements) ranks greatest, an exact tie goes to the higher cell
    id."""
    cents = np.asarray(centroids, dtype=np.float64)  # k x dim
    cnorm = ltr_norm(cents)
    k = len(cents)

    @F.pandas_udf("cell int, cos double")
    def assign(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({
                "cell": pd.Series(dtype="int32"),
                "cos": pd.Series(dtype="float64"),
            })
        m = f64_matrix(v)
        cos = cosine_matrix(m, cents)  # n x k
        key = np.where(np.isnan(cos), np.inf, cos)
        key[np.multiply.outer(ltr_norm(m), cnorm) == 0] = -np.inf
        is_best = key == key.max(axis=1, keepdims=True)
        cell = (k - 1) - np.argmax(is_best[:, ::-1], axis=1)
        return pd.DataFrame({
            "cell": cell.astype("int32"),
            "cos": cos[np.arange(len(cell)), cell],  # NaN -> NULL
        })

    return assign


def group_mean_vector(
    df: DataFrame, key: str, vec_col: str, out: str, scale: int | None = None
) -> DataFrame:
    """``(key, out)``: the element-wise mean of the array column
    ``vec_col`` over each ``key`` group, as a double array in position
    order — posexplode, ``avg`` per (key, pos), optionally ``round(.,
    scale)`` per element, reassemble.  The shuffle carries keys x dim
    partial sums, independent of corpus size."""
    m = F.avg(F.col("v").cast("double"))
    if scale is not None:
        m = F.round(m, scale)
    return (
        df.select(key, F.posexplode(vec_col).alias("pos", "v"))
        .groupBy(key, "pos")
        .agg(m.alias("m"))
        .groupBy(key)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.getField("m"),
            ).alias(out)
        )
    )


@register(
    "q_llm_cosine_pairs",
    oracle="""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))
                  AS DOUBLE), 4) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) > 0.45
""",
    doc="Embedding-cosine near-duplicate pairs above a threshold "
    "(self-join, id_a < id_b).",
    scale_notes="O(n²) compare — correct baseline at test SF; the scale "
    "path is llm_ann_lsh (bucketed) or blocked matrix multiply via "
    "Pandas UDF. Never run this shape on a full 100 TB corpus.",
)
def q_llm_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_raw", cosine_pandas(F.col("ea"), F.col("eb")))
        .filter(F.col("cos_raw") > 0.45)
        .select("id_a", "id_b", F.round("cos_raw", 4).alias("cos"))
    )


@register(
    "q_llm_knn",
    oracle="""
WITH probes AS (
  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pe
  FROM embeddings WHERE vec_id IN (1, 2, 3, 4, 5)
), scored AS (
  SELECT probe_id, e.vec_id,
         CAST(list_cosine_similarity(pe, CAST(e.embedding AS DOUBLE[]))
              AS DOUBLE) AS cos_raw
  FROM probes JOIN embeddings e ON e.vec_id <> probe_id
)
SELECT probe_id, vec_id, ROUND(cos_raw, 4) AS cos
FROM (SELECT probe_id, vec_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cos_raw DESC, vec_id ASC) AS rn
      FROM scored) t
WHERE rn <= 5
""",
    doc="Brute-force cosine top-k (k=5) for a fixed probe set — the "
    "exact ANN baseline (tie-break vec_id).",
    scale_notes="Probes broadcast -> one scan of the candidates -> "
    "per-probe top-k via window (WindowGroupLimit). Scales linearly in "
    "corpus size for a bounded probe set.",
)
def q_llm_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id").isin(1, 2, 3, 4, 5)).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            cosine(F.col("pe"), F.col("embedding")).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_raw").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("probe_id", "vec_id", F.round("cos_raw", 4).alias("cos"))
    )


@register(
    "q_llm_centroid",
    oracle="""
WITH e AS (
  SELECT label, unnest(embedding) AS val,
         generate_subscripts(embedding, 1) - 1 AS pos
  FROM embeddings
), c AS (
  SELECT label, pos, ROUND(AVG(CAST(val AS DOUBLE)), 4) AS v
  FROM e GROUP BY label, pos
)
SELECT label,
       array_to_string(
         list_transform(array_agg(v ORDER BY pos),
                        v -> CAST(ROUND(v * 10000) AS BIGINT)),
         ',') AS centroid
FROM c GROUP BY label
""",
    doc="Per-label embedding centroid: posexplode -> per-(label,pos) "
    "mean -> reassemble ordered array (emitted as a comma-joined "
    "x1e4-scaled integer string so external row canonicalizers can "
    "hash it — §7.4 rule 5; elements are pre-rounded to 4 decimals so "
    "the scaling is exact).",
    scale_notes="Shuffle carries (label, pos) partial sums — "
    "labels x dim rows, independent of corpus size.",
)
def q_llm_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    cents = group_mean_vector(emb, "label", "embedding", "c", scale=4)
    return cents.select(
        "label",
        F.array_join(
            F.transform(
                "c",
                lambda v: F.round(v * 10000).cast("bigint").cast("string"),
            ),
            ",",
        ).alias("centroid"),
    )


@register(
    "llm_ann_lsh",
    oracle=None,  # approximate; recall vs brute force asserted in tests
    doc="Multi-table multi-probe LSH approximate nearest neighbors: 8 "
    "hash tables x 6 random hyperplanes (seeded, broadcast as literals) "
    "-> sign-bit bucket per table; each probe searches its own bucket "
    "PLUS every Hamming-1 neighbor bucket (multi-probe), then exact "
    "cosine top-k within the candidate union (same probe set and "
    "output schema as q_llm_knn).",
    scale_notes="Each table's bucket holds ~n/2^bits candidates; "
    "multi-probe multiplies only the broadcast probe rows (x(bits+1)), "
    "not the corpus side — recall rises without extra tables or corpus "
    "shuffles (measured vs brute force in tests). IVF replaces hashing "
    "with k-means cells — same join shape.",
)
def llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_tables, n_bits = 8, 6
    emb = read_table(spark, sf_dir, "embeddings")
    rng = np.random.default_rng(42)
    planes = rng.standard_normal((n_tables, n_bits, 64))

    def table_bucket(table: int) -> Column:
        bits = [
            F.when(
                dot(
                    F.col("embedding"),
                    F.array(*[F.lit(float(x)) for x in planes[table, i]]),
                )
                > 0,
                F.lit(1 << i),
            ).otherwise(F.lit(0))
            for i in range(n_bits)
        ]
        return sum(bits[1:], start=bits[0])

    bucketed = emb.withColumn(
        "bkt", F.array(*[table_bucket(t) for t in range(n_tables)])
    )
    flat = bucketed.select(
        "vec_id", "embedding", F.posexplode("bkt").alias("tbl", "bucket")
    )
    # Multi-probe: each probe also searches every Hamming-1 bucket —
    # explode (bits+1) bucket variants per (probe, table). Only the tiny
    # broadcast side fans out; the corpus side is untouched.
    variants = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)],
    )
    probes = (
        flat.filter(F.col("vec_id").isin(1, 2, 3, 4, 5))
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("pe"),
            F.col("tbl").alias("ptbl"),
            F.explode(variants).alias("pbucket"),
        )
    )
    candidates = (
        flat.join(
            F.broadcast(probes),
            (F.col("tbl") == F.col("ptbl"))
            & (F.col("bucket") == F.col("pbucket")),
        )
        .filter(F.col("vec_id") != F.col("probe_id"))
        .dropDuplicates(["probe_id", "vec_id"])
    )
    scored = candidates.select(
        "probe_id",
        "vec_id",
        cosine(F.col("pe"), F.col("embedding")).alias("cos_raw"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_raw").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("probe_id", "vec_id", F.round("cos_raw", 4).alias("cos"))
    )


def lloyd_kmeans(
    emb: DataFrame, k: int, iters: int, vec_col: str = "embedding"
) -> list[list[float]]:
    """Deterministic DataFrame-native Lloyd k-means (no RNG: init =
    the k lowest vec_ids, :func:`assign_cell` max-cosine assignment,
    :func:`group_mean_vector` update).

    Only k x dim floats ever reach the driver per iteration — the same
    bounded-collect contract as MLlib KMeans. Shared by llm_ann_ivf
    (coarse quantizer) and llm_embed_dedup_blocked (banding cells).
    The caller should cache ``emb``: training scans it once per
    iteration.
    """
    init = (
        emb.orderBy("vec_id").select(vec_col).limit(k).collect()
    )
    # Fewer vectors than requested cells: clamp k (every vector its own
    # cell); an empty corpus trains no cells at all ([]) and the caller
    # short-circuits (empty-input contract, reference invariant A12).
    k = min(k, len(init))
    if k == 0:
        return []
    centroids = [[float(x) for x in r[vec_col]] for r in init]
    for _ in range(iters):
        assigned = emb.withColumn(
            "cell", assign_cell(centroids)(F.col(vec_col)).getField("cell")
        )
        rows = group_mean_vector(
            assigned, "cell", vec_col, "centroid"
        ).collect()  # k rows x dim floats — bounded, size-independent
        new = {r["cell"]: [float(x) for x in r["centroid"]] for r in rows}
        centroids = [new.get(i, centroids[i]) for i in range(k)]
    return centroids


@register(
    "llm_ann_ivf",
    oracle=None,  # approximate; recall vs brute force asserted in tests
    doc="IVF (inverted-file) approximate nearest neighbors: deterministic "
    "Lloyd k-means (k=8, init = vec_id 1..8, 3 iterations: Arrow-batch "
    "assignment, DataFrame mean update) trains the coarse quantizer; "
    "every vector is assigned to its max-cosine cell; each probe "
    "searches only its nprobe=2 nearest cells; exact cosine top-5 "
    "within the candidate union (same probe set and output schema as "
    "q_llm_knn).",
    scale_notes="Training aggregates k x dim floats to the driver per "
    "iteration (constant, corpus-size independent — the same contract "
    "as MLlib KMeans). Search shuffles only same-cell candidates: cost "
    "~ nprobe/k of a full scan per probe. At 100 TB: persist the cell "
    "assignment as a bucketed column, raise k ~ sqrt(n), and add a "
    "product-quantized residual for in-cell pruning.",
)
def llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    k, nprobe, iters = 8, 2, 3
    # Cached: Lloyd training scans the corpus once per iteration.
    emb = read_table(spark, sf_dir, "embeddings").cache()
    try:
        centroids = lloyd_kmeans(emb, k, iters)
    finally:
        emb.unpersist()
    emb = read_table(spark, sf_dir, "embeddings")
    if not centroids:  # empty corpus -> no cells, no neighbors (A12)
        return spark.createDataFrame(
            [], "probe_id long, vec_id long, cos double"
        )

    # --- search: candidates = union of the probe's nprobe nearest cells ---
    celled = emb.withColumn(
        "cell", assign_cell(centroids)(F.col("embedding")).getField("cell")
    )
    probe_cells = F.slice(
        F.array_sort(
            F.array(
                *[
                    F.struct(
                        (-cosine(
                            F.col("embedding"),
                            F.array(*[F.lit(float(x)) for x in c]),
                        )).alias("negcos"),
                        F.lit(i).alias("cell"),
                    )
                    for i, c in enumerate(centroids)
                ]
            )
        ),
        1,
        nprobe,
    )
    probes = (
        emb.filter(F.col("vec_id").isin(1, 2, 3, 4, 5))
        .withColumn("pcells", probe_cells)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("pe"),
            F.explode(F.transform("pcells", lambda s: s.getField("cell"))).alias(
                "pcell"
            ),
        )
    )
    candidates = (
        celled.join(F.broadcast(probes), F.col("cell") == F.col("pcell"))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .dropDuplicates(["probe_id", "vec_id"])
    )
    scored = candidates.select(
        "probe_id",
        "vec_id",
        cosine(F.col("pe"), F.col("embedding")).alias("cos_raw"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_raw").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("probe_id", "vec_id", F.round("cos_raw", 4).alias("cos"))
    )


@register(
    "llm_knn_blocked",
    oracle="""
WITH probes AS (
  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pe
  FROM embeddings WHERE vec_id IN (1, 2, 3, 4, 5)
), scored AS (
  SELECT probe_id, e.vec_id,
         CAST(list_cosine_similarity(pe, CAST(e.embedding AS DOUBLE[]))
              AS DOUBLE) AS cos_raw
  FROM probes JOIN embeddings e ON e.vec_id <> probe_id
)
SELECT probe_id, vec_id, ROUND(cos_raw, 4) AS cos
FROM (SELECT probe_id, vec_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cos_raw DESC, vec_id ASC) AS rn
      FROM scored) t
WHERE rn <= 5
""",
    doc="Blocked-matmul kNN (mapInPandas): each Arrow batch scores ALL "
    "its vectors against the broadcast probe matrix with numpy "
    "(left-to-right reductions — IEEE-identical to q_llm_knn), keeps "
    "only the batch-local top-5 per probe, and a final window picks the "
    "global top-5 from parts x k x probes candidates. Same oracle as "
    "q_llm_knn because the arithmetic is bit-identical.",
    scale_notes="The 100 TB vectorized-scan shape: the shuffle carries "
    "only partitions x probes x k candidate rows (per-partition heap "
    "pruning is lossless for top-k), and Python sees Arrow blocks, "
    "never rows. Probe matrix is a constant broadcast (collected once, "
    "bounded like IVF centroids).",
)
def llm_knn_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 5
    emb = read_table(spark, sf_dir, "embeddings")
    probe_rows = (
        emb.filter(F.col("vec_id").isin(1, 2, 3, 4, 5))
        .orderBy("vec_id")
        .collect()  # 5 x 64 floats — constant probe matrix
    )
    if not probe_rows:  # empty corpus -> no probes, no neighbors (A12)
        return spark.createDataFrame(
            [], "probe_id long, vec_id long, cos double"
        )
    probe_ids = [int(r["vec_id"]) for r in probe_rows]
    probe_mat = np.array(
        [[float(x) for x in r["embedding"]] for r in probe_rows],
        dtype=np.float64,
    )

    def score_blocks(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            cos = cosine_matrix(f64_matrix(pdf["embedding"]), probe_mat)
            out_frames = []
            for pi, pid in enumerate(probe_ids):
                mask = ids != pid
                cand = pd.DataFrame(
                    {
                        "probe_id": pid,
                        "vec_id": ids[mask],
                        "cos_raw": cos[mask, pi],
                    }
                )
                # Lossless per-block pruning: global top-k is a subset
                # of the union of block-local top-k.
                cand = cand.sort_values(
                    ["cos_raw", "vec_id"], ascending=[False, True]
                ).head(k)
                out_frames.append(cand)
            yield pd.concat(out_frames, ignore_index=True)

    cands = emb.select("vec_id", "embedding").mapInPandas(
        score_blocks, "probe_id long, vec_id long, cos_raw double"
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_raw").desc(), F.col("vec_id").asc()
    )
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", "vec_id", F.round("cos_raw", 4).alias("cos"))
    )


@register(
    "llm_doc_embed_cohesion",
    oracle="""
WITH de AS (
  SELECT d.doc_id, d.lang, CAST(e.embedding AS DOUBLE[]) AS emb
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
), p AS (
  SELECT lang, unnest(emb) AS val, generate_subscripts(emb, 1) AS pos
  FROM de
), c AS (
  SELECT lang, pos, ROUND(AVG(val), 6) AS m FROM p GROUP BY lang, pos
), cents AS (
  SELECT lang, array_agg(m ORDER BY pos) AS centroid FROM c GROUP BY lang
)
SELECT de.doc_id, de.lang,
       ROUND(CAST(list_cosine_similarity(de.emb, cents.centroid)
                  AS DOUBLE), 4) AS cohesion
FROM de JOIN cents USING (lang)
""",
    doc="Cross-table doc+vector quality signal: join documents to their "
    "embeddings (vec_id = doc_id), build the per-LANGUAGE embedding "
    "centroid, and score each document's cosine to its own language "
    "centroid — the cluster-cohesion filter a curation pipeline uses "
    "to flag mislabeled/outlier documents. Centroid components are "
    "pre-rounded to 6 decimals in both engines so the downstream "
    "cosine sees bit-identical inputs (repo centroid discipline, "
    "q_llm_centroid).",
    scale_notes="Two shuffles (doc-embedding equi-join; (lang, pos) "
    "partial means) + a broadcast of langs x dim centroid floats; "
    "cosine is a codegen'd JVM aggregate over the zipped arrays — no "
    "Python in the loop.",
)
def llm_doc_embed_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    de = docs.join(emb, docs["doc_id"] == emb["vec_id"]).select(
        "doc_id", "lang", "embedding"
    )
    cents = group_mean_vector(de, "lang", "embedding", "centroid", scale=6)
    return de.join(F.broadcast(cents), "lang").select(
        "doc_id",
        "lang",
        F.round(cosine(F.col("embedding"), F.col("centroid")), 4).alias(
            "cohesion"
        ),
    )


@register(
    "llm_embed_quantize",
    oracle="""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) AS mx
  FROM v
), q AS (
  SELECT vec_id, mx,
         CASE WHEN mx = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
              ELSE list_transform(
                     e, x -> CAST(floor(x / (mx / 127) + 0.5) AS BIGINT))
         END AS qv,
         len(e) AS n_dims
  FROM s
)
SELECT vec_id,
       ROUND(mx / 127, 6) AS scale,
       CAST(n_dims AS BIGINT) AS n_dims,
       CAST(COALESCE(list_aggregate(qv, 'sum'), 0) AS BIGINT) AS q_sum,
       CAST(COALESCE(list_aggregate(
              list_transform(qv, x -> abs(x)), 'sum'), 0) AS BIGINT)
         AS q_l1
FROM q
""",
    doc="Symmetric int8 quantization of the embedding column (the "
    "compression step before ANN indexes ship to serving): per-vector "
    "scale = max|x|/127, q_i = floor(x/scale + 0.5) (explicit "
    "half-up, so both engines round identically), emitting the scale "
    "plus order-invariant checksums (sum, L1) of the quantized "
    "vector. Float->double widening and the division sequence are "
    "written identically in both engines, so the checksums are "
    "bit-exact.",
    scale_notes="Zero-shuffle projection over array columns — all "
    "higher-order functions inside codegen, no Python. At 100 TB the "
    "quantized vectors are 4x smaller than fp32 before they ever hit "
    "a shuffle or an index build (SCALE.md §8).",
)
def llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id",
            F.expr(
                "transform(embedding, x -> CAST(x AS DOUBLE))"
            ).alias("e"),
        )
        .withColumn(
            "mx", F.expr("array_max(transform(e, x -> abs(x)))")
        )
        .withColumn(
            "qv",
            F.expr(
                "CASE WHEN mx = 0 THEN transform(e, x -> CAST(0 AS BIGINT)) "
                "ELSE transform(e, x -> "
                "CAST(floor(x / (mx / 127) + 0.5) AS BIGINT)) END"
            ),
        )
        .select(
            "vec_id",
            F.round(F.col("mx") / 127, 6).alias("scale"),
            F.size("e").cast("bigint").alias("n_dims"),
            F.expr(
                "CAST(aggregate(qv, 0L, (a, x) -> a + x) AS BIGINT)"
            ).alias("q_sum"),
            F.expr(
                "CAST(aggregate(qv, 0L, (a, x) -> a + abs(x)) AS BIGINT)"
            ).alias("q_l1"),
        )
    )


#: SemDeDup duplicate threshold — interpolated into BOTH the oracle
#: and the Spark filter so the two sides cannot drift.
_SEMDEDUP_TAU = 0.45


@register(
    "q_llm_semdedup",
    oracle=f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
        + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
        + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END) AS bucket
  FROM embeddings
), comp AS (
  SELECT b.bucket, ax.p,
         CAST(SUM(CAST(ROUND(b.emb[ax.p] * 1000000) AS BIGINT))
              AS BIGINT) AS c
  FROM base b CROSS JOIN (SELECT unnest(range(1, 65)) AS p) ax
  GROUP BY b.bucket, ax.p
), cent AS (
  SELECT bucket, list(CAST(c AS DOUBLE) ORDER BY p) AS cv FROM comp
  GROUP BY bucket
), scored AS (
  SELECT b.vec_id, b.bucket, b.emb,
         list_sum(list_transform(range(1, 65),
                                 i -> b.emb[i] * cent.cv[i]))
         / (sqrt(list_sum(list_transform(range(1, 65),
                                         i -> b.emb[i] * b.emb[i])))
            * sqrt(list_sum(list_transform(range(1, 65),
                                           i -> cent.cv[i] * cent.cv[i]))))
           AS c_sim
  FROM base b JOIN cent USING (bucket)
), nbrs AS (
  SELECT x.vec_id,
         COUNT(*) AS n_dups,
         CAST(BOOL_OR(y.c_sim < x.c_sim
                      OR (y.c_sim = x.c_sim AND y.vec_id < x.vec_id))
              AS BOOLEAN) AS has_better
  FROM scored x JOIN scored y
    ON x.bucket = y.bucket AND x.vec_id <> y.vec_id
   AND list_cosine_similarity(x.emb, y.emb) > {_SEMDEDUP_TAU}
  GROUP BY x.vec_id
)
SELECT s.vec_id, s.bucket,
       COALESCE(n.n_dups, 0) AS n_dups,
       ROUND(s.c_sim, 4) AS c_sim,
       COALESCE(NOT n.has_better, TRUE) AS kept
FROM scored s LEFT JOIN nbrs n USING (vec_id)
""",
    doc="SemDeDup (Abbas et al. 2023) semantic deduplication, "
    "bucket-scoped: vectors bucket by axis-aligned sign LSH (the "
    "coordinate-hyperplane special case of random projection; the "
    "paper uses k-means cells — same bucket-then-dedup structure), "
    "pairs within a bucket at cosine > 0.45 are semantic "
    "duplicates, and per the paper's keep rule the member with the "
    "LOWEST similarity to the bucket centroid survives (ties to "
    "the lower id) — keeping the 'edge' example, dropping the "
    "redundant interior. The centroid is an exact integer-micro "
    "sum (order-independent; cosine is scale-invariant so the "
    "un-normalized integer vector is the centroid), and every "
    "c_sim comparison runs on identical left-fold doubles in both "
    "engines.",
    scale_notes="Bucketing is a zero-shuffle projection; centroids "
    "are a bucket x dim integer ledger (map-combined). The "
    "in-bucket pair scan is sum(bucket^2) — at 100 TB raise the "
    "sign-bit count (2^b buckets) so buckets stay bounded, exactly "
    "like llm_ann_lsh's table scaling, and recurse on oversized "
    "buckets as llm_embed_dedup_blocked documents. Keep-rule "
    "reduction is a per-bucket aggregate, no global state.",
)
def q_llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        (
            (F.element_at("embedding", 1) >= 0).cast("int")
            + (F.element_at("embedding", 2) >= 0).cast("int") * 2
            + (F.element_at("embedding", 3) >= 0).cast("int") * 4
        ).alias("bucket"),
    )
    comp = (
        base.select(
            "bucket",
            F.posexplode(
                F.expr(
                    "transform(emb,"
                    " x -> cast(round(x * 1000000) as bigint))"
                )
            ).alias("p0", "v"),
        )
        .groupBy("bucket", "p0")
        .agg(F.sum("v").cast("bigint").alias("c"))
    )
    cent = comp.groupBy("bucket").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(p0, c))),"
            " s -> cast(s.c as double))"
        ).alias("cv")
    )
    scored = base.join(cent, "bucket").select(
        "vec_id",
        "bucket",
        "emb",
        cosine(F.col("emb"), F.col("cv")).alias("c_sim"),
    )
    x = scored.select(
        F.col("vec_id").alias("x_id"),
        F.col("bucket").alias("bk"),
        F.col("emb").alias("x_emb"),
        F.col("c_sim").alias("x_sim"),
    )
    y = scored.select(
        F.col("vec_id").alias("y_id"),
        F.col("bucket").alias("bk"),
        F.col("emb").alias("y_emb"),
        F.col("c_sim").alias("y_sim"),
    )
    nbrs = (
        x.join(y, "bk")
        .filter(F.col("x_id") != F.col("y_id"))
        .filter(cosine_pandas(F.col("x_emb"), F.col("y_emb")) > _SEMDEDUP_TAU)
        .groupBy("x_id")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.max(
                (
                    (F.col("y_sim") < F.col("x_sim"))
                    | (
                        (F.col("y_sim") == F.col("x_sim"))
                        & (F.col("y_id") < F.col("x_id"))
                    )
                ).cast("int")
            ).alias("hb"),
        )
    )
    return scored.join(
        nbrs, scored.vec_id == nbrs.x_id, "left"
    ).select(
        "vec_id",
        "bucket",
        F.coalesce(F.col("n_dups"), F.lit(0)).cast("bigint").alias(
            "n_dups"
        ),
        F.round("c_sim", 4).alias("c_sim"),
        F.coalesce(F.col("hb") == 0, F.lit(True)).alias("kept"),
    )


@register(
    "q_llm_embed_truncate",
    oracle=f"""
WITH e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS q
  FROM embeddings
), per_vec AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN pos < 4  THEN q * q ELSE 0 END) AS BIGINT) AS e4,
         CAST(SUM(CASE WHEN pos < 8  THEN q * q ELSE 0 END) AS BIGINT) AS e8,
         CAST(SUM(CASE WHEN pos < 16 THEN q * q ELSE 0 END) AS BIGINT) AS e16,
         CAST(SUM(CASE WHEN pos < 32 THEN q * q ELSE 0 END) AS BIGINT) AS e32,
         CAST(SUM(q * q) AS BIGINT) AS etot
  FROM e GROUP BY vec_id
), fracs AS (
  SELECT d,
         CAST(ROUND(CAST(e_d AS DOUBLE) / etot, 8) AS DECIMAL(18,8)) AS frac
  FROM per_vec,
       LATERAL (VALUES (4, e4), (8, e8), (16, e16), (32, e32)) dims(d, e_d)
  WHERE etot > 0
)
SELECT d AS dims_kept,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       {decimal_mean_round4_sql(
           'CAST(SUM(frac) * 100000000 AS BIGINT)', 'COUNT(*)', 8, '//')}
         AS avg_energy_frac,
       ROUND(CAST(MIN(frac) AS DOUBLE), 4) AS min_energy_frac
FROM fracs GROUP BY d ORDER BY d
""",
    doc="Matryoshka-style truncation fidelity: for prefix lengths "
    "d in (4, 8, 16, 32) of the 64-dim embeddings, the average and "
    "worst-case fraction of vector energy (squared L2 mass) the "
    "prefix retains — cos(full, truncated) = sqrt(energy fraction), "
    "so this is exactly the retrieval-fidelity curve that decides "
    "how far vectors can be truncated for cheap prefiltering. "
    "Energies are computed on the 1e-4-quantized integer grid, so "
    "every sum is exact and engine-portable; only the final ratio "
    "is floating point (ROUND-8 per vector, DECIMAL-averaged).",
    scale_notes="One posexplode + grouped conditional sums: the "
    "shuffle carries 5 longs per vector (never the float array), "
    "and the d-axis unpivot + global average run on "
    "vectors-x-4-row intermediates. Embarrassingly parallel at "
    "any corpus size; the quantized-integer trick removes all "
    "float-summation-order sensitivity from the hot path.",
)
def q_llm_embed_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    q = F.round(F.col("val").cast("double") * 10000).cast("bigint")
    exploded = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select("vec_id", "pos", q.alias("q"))
    qq = F.col("q") * F.col("q")
    per_vec = exploded.groupBy("vec_id").agg(
        *[
            F.sum(F.when(F.col("pos") < d, qq).otherwise(F.lit(0)))
            .cast("bigint")
            .alias(f"e{d}")
            for d in (4, 8, 16, 32)
        ],
        F.sum(qq).cast("bigint").alias("etot"),
    )
    fracs = (
        per_vec.filter(F.col("etot") > 0)
        .select(
            F.expr(
                "stack(4, 4, e4, 8, e8, 16, e16, 32, e32) AS (d, e_d)"
            ),
            "etot",
        )
        .select(
            "d",
            F.round(F.col("e_d").cast("double") / F.col("etot"), 8)
            .cast("decimal(18,8)")
            .alias("frac"),
        )
    )
    return (
        fracs.groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            (F.sum("frac") * F.lit(100000000))
            .cast("bigint")
            .alias("sf8"),
            F.round(F.min("frac").cast("double"), 4).alias(
                "min_energy_frac"
            ),
        )
        # exact integer half-up (rule-8 batch-2 sweep)
        .select(
            F.col("d").alias("dims_kept"),
            "n_vecs",
            F.expr(
                decimal_mean_round4_sql("sf8", "n_vecs", 8, "div")
            ).alias("avg_energy_frac"),
            "min_energy_frac",
        )
        .orderBy("dims_kept")
    )


@register(
    "q_llm_embed_pq",
    oracle=f"""
WITH e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS q
  FROM embeddings
), anchor_ids AS (
  SELECT vec_id AS aid FROM embeddings ORDER BY vec_id LIMIT 16
), anchors AS (
  SELECT a.aid, e.pos, e.q FROM e JOIN anchor_ids a ON e.vec_id = a.aid
), dist AS (
  SELECT e.vec_id, CAST(e.pos // 8 AS BIGINT) AS j, a.aid,
         SUM((e.q - a.q) * (e.q - a.q)) AS d2
  FROM e JOIN anchors a ON e.pos = a.pos
  GROUP BY e.vec_id, j, a.aid
), assign AS (
  SELECT vec_id, j, aid, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id, j
                            ORDER BY d2 ASC, aid ASC) AS rn
  FROM dist
), best AS (
  SELECT vec_id, j, aid, d2 FROM assign WHERE rn = 1
), usage AS (
  SELECT j, aid, COUNT(*) AS c FROM best GROUP BY j, aid
), tot AS (
  SELECT j, CAST(SUM(c) AS BIGINT) AS n FROM usage GROUP BY j
), ent AS (
  SELECT u.j,
         CAST(SUM(CAST(ROUND(
             -(CAST(u.c AS DOUBLE) / t.n)
              * ln(CAST(u.c AS DOUBLE) / t.n), 8)
           AS DECIMAL(18,8))) * 100000000 AS BIGINT) AS h8,
         CAST(COUNT(*) AS BIGINT) AS codes_used
  FROM usage u JOIN tot t USING (j) GROUP BY u.j
), sse AS (
  SELECT j, CAST(SUM(d2) AS BIGINT) AS sum_d2 FROM best GROUP BY j
)
SELECT t.j AS subspace, t.n AS n_vecs, ent.codes_used,
       {ratio_round4_sql('sse.sum_d2', 't.n', '//')} AS avg_sse,
       {decimal_mean_round4_sql('ent.h8', '1', 8, '//')} AS entropy_nats
FROM tot t JOIN ent USING (j) JOIN sse USING (j) ORDER BY subspace
""",
    doc="Product quantization accounting: the 64-dim embeddings "
    "split into 8 subspaces of 8 dims; each subvector is assigned "
    "to its nearest of 16 anchor codewords (the 16 lowest-vec_id "
    "vectors — a deterministic stand-in for trained centroids) by "
    "exact integer distance on the 1e-4-quantized grid, ties to "
    "the lowest anchor id. Per subspace: codewords actually used, "
    "code-usage entropy (how balanced the codebook is), and the "
    "average quantization SSE — the compression-quality dashboard "
    "behind a PQ index (64 floats -> 8 bytes per vector).",
    scale_notes="The codebook is broadcast-bounded (k x dim "
    "values); assignment is one equi join on pos + a grouped "
    "integer reduction — embarrassingly parallel, shuffle carries "
    "(vec, subspace, anchor) partial sums. At 100 TB the anchors "
    "come from sampled k-means (llm_embed_dedup_blocked's "
    "machinery) and the same plan assigns codes; integer-grid "
    "distances remove float-order sensitivity.",
)
def q_llm_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    qcol = F.round(F.col("val").cast("double") * 10000).cast("bigint")
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select("vec_id", "pos", qcol.alias("q"))
    anchor_ids = emb.select("vec_id").orderBy("vec_id").limit(16)
    anchors = e.join(
        F.broadcast(anchor_ids.select(F.col("vec_id").alias("aid"))),
        e.vec_id == F.col("aid"),
    ).select("aid", "pos", F.col("q").alias("aq"))
    diff = F.col("q") - F.col("aq")
    dist = (
        e.join(F.broadcast(anchors), "pos")
        .groupBy(
            "vec_id",
            F.floor(F.col("pos") / 8).cast("bigint").alias("j"),
            "aid",
        )
        .agg(F.sum(diff * diff).alias("d2"))
    )
    w = Window.partitionBy("vec_id", "j").orderBy(
        F.col("d2").asc(), F.col("aid").asc()
    )
    best = dist.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    usage = best.groupBy("j", "aid").agg(F.count(F.lit(1)).alias("c"))
    tot = usage.groupBy("j").agg(F.sum("c").cast("bigint").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    ent = (
        usage.join(tot, "j")
        .groupBy("j", "n")
        .agg(
            (F.sum(F.round(-p * F.log(p), 8).cast("decimal(18,8)"))
             * F.lit(100000000))
            .cast("bigint")
            .alias("h8"),
            F.count(F.lit(1)).cast("bigint").alias("codes_used"),
        )
    )
    sse = best.groupBy("j").agg(F.sum("d2").cast("bigint").alias("sum_d2"))
    # exact integer half-up (rule-8 remedy): the SSE mean is a pure
    # bigint/bigint ratio (57/800-class half-boundary ties diverge
    # between the engines' float ROUNDs), and the entropy is a
    # DECIMAL(18,8) sum rounded at 4 — both computed in integer space.
    return (
        ent.join(sse, "j")
        .select(
            F.col("j").alias("subspace"),
            F.col("n").alias("n_vecs"),
            "codes_used",
            F.expr(ratio_round4_sql("sum_d2", "n", "div")).alias(
                "avg_sse"
            ),
            F.expr(decimal_mean_round4_sql("h8", "1", 8, "div")).alias(
                "entropy_nats"
            ),
        )
        .orderBy("subspace")
    )


#: Fixed anchor set for hard-negative mining (bounded, broadcastable —
#: the q_llm_knn probe convention on a disjoint id set).
_HARDNEG_ANCHORS = (10, 20, 30, 40, 50)
_HARDNEG_K = 5


@register(
    "q_llm_hard_negatives",
    oracle=f"""
WITH anchors AS (
  SELECT vec_id AS anchor_id, label AS anchor_label,
         CAST(embedding AS DOUBLE[]) AS ae
  FROM embeddings WHERE vec_id IN {_HARDNEG_ANCHORS}
), scored AS (
  SELECT anchor_id, anchor_label, e.vec_id, e.label,
         CAST(list_cosine_similarity(ae, CAST(e.embedding AS DOUBLE[]))
              AS DOUBLE) AS cos_raw
  FROM anchors JOIN embeddings e ON e.label <> anchor_label
)
SELECT anchor_id, anchor_label, vec_id AS negative_id,
       label AS negative_label, ROUND(cos_raw, 4) AS cos
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                   ORDER BY cos_raw DESC, vec_id ASC) AS rn
      FROM scored) t
WHERE rn <= {_HARDNEG_K}
ORDER BY anchor_id, cos DESC, negative_id
""",
    doc="Hard-negative mining for contrastive training: for each "
    "anchor embedding, the top-5 most-similar vectors carrying a "
    "DIFFERENT label — the near-miss negatives that make triplet/"
    "InfoNCE training informative (random negatives are too easy). "
    "q_llm_knn's exact cosine top-k with the label-inequality "
    "predicate swapped in; vec_id tie-break.",
    scale_notes="Anchors broadcast (bounded set), one linear scan "
    "of the candidate corpus, per-anchor top-k via WindowGroupLimit "
    "— identical physics to q_llm_knn. At 100 TB with a LARGE "
    "anchor set this becomes the llm_knn_blocked mapInPandas "
    "matmul or the llm_ann_* bucketed paths, with the label filter "
    "applied inside each block.",
)
def q_llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id").isin(*_HARDNEG_ANCHORS)).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("ae"),
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            "vec_id",
            "label",
            cosine(F.col("ae"), F.col("embedding")).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_raw").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _HARDNEG_K)
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            F.round("cos_raw", 4).alias("cos"),
        )
        .orderBy("anchor_id", F.col("cos").desc(), "negative_id")
    )


@register(
    "q_dq_embeddings",
    oracle=f"""
WITH v AS (
  SELECT label, len(embedding) AS dim,
         CAST(ROUND(SQRT(list_sum(list_transform(
                CAST(embedding AS DOUBLE[]), x -> x * x))), 6)
              AS DECIMAL(18,6)) AS nrm,
         len(list_filter(CAST(embedding AS DOUBLE[]),
                         x -> isnan(x) OR x IS NULL)) > 0 AS bad
  FROM embeddings
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(MIN(dim) AS BIGINT) AS min_dim,
       CAST(MAX(dim) AS BIGINT) AS max_dim,
       CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
       CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_norm,
       ROUND(CAST(MIN(nrm) AS DOUBLE), 4) AS min_norm,
       ROUND(CAST(MAX(nrm) AS DOUBLE), 4) AS max_norm,
       {decimal_mean_round4_sql(
           'CAST(SUM(nrm) * 1000000 AS BIGINT)', 'COUNT(*)', 6, '//')}
         AS mean_norm
FROM v GROUP BY label ORDER BY label
""",
    doc="Embedding-column data-quality audit (the q_dq_audit "
    "discipline applied to vectors): per label, vector counts, "
    "dimension consistency (min=max dim or the batch is "
    "malformed), NaN/NULL-element detection, zero-norm vectors "
    "(which poison cosine math downstream), and the L2-norm "
    "range/mean. Norms are ROUND-6 DECIMAL so the mean is "
    "order-independent; elements promote float->double before "
    "squaring in both engines.",
    scale_notes="Zero-shuffle per-vector arithmetic (list HOFs "
    "over the array column — no explode) + one label-keyed "
    "mergeable aggregation. The audit any vector-ingest job runs "
    "before an index build; scan-bound at any scale.",
)
def q_dq_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    dbl = "transform(embedding, x -> CAST(x AS DOUBLE))"
    v = emb.select(
        "label",
        F.size("embedding").alias("dim"),
        F.round(norm2(F.col("embedding")), 6)
        .cast("decimal(18,6)")
        .alias("nrm"),
        (
            F.expr(
                f"size(filter({dbl}, x -> isnan(x) OR x IS NULL))"
            )
            > 0
        ).alias("bad"),
    )
    return (
        v.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.min("dim").cast("bigint").alias("min_dim"),
            F.max("dim").cast("bigint").alias("max_dim"),
            F.sum(F.when(F.col("bad"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_bad"),
            F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_zero_norm"),
            F.round(F.min("nrm").cast("double"), 4).alias("min_norm"),
            F.round(F.max("nrm").cast("double"), 4).alias("max_norm"),
            (F.sum("nrm") * F.lit(1000000)).cast("bigint").alias("sn6"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
        # exact integer half-up (rule-8 batch-2 sweep)
        .withColumn(
            "mean_norm",
            F.expr(decimal_mean_round4_sql("sn6", "cnt", 6, "div")),
        )
        .drop("sn6", "cnt")
        .orderBy("label")
    )


@register(
    "q_llm_retrieval_eval",
    oracle=f"""
WITH probes AS (
  SELECT vec_id AS probe_id, label AS plabel,
         CAST(embedding AS DOUBLE[]) AS pe
  FROM embeddings WHERE vec_id < 10
), corpus AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings WHERE vec_id >= 10
), nrel AS (
  SELECT probe_id, plabel, COUNT(*) AS n_rel
  FROM probes JOIN corpus ON corpus.label = probes.plabel
  GROUP BY probe_id, plabel
), ranked AS (
  SELECT probe_id, plabel, vec_id,
         CASE WHEN label = plabel THEN 1 ELSE 0 END AS rel,
         ROW_NUMBER() OVER (PARTITION BY probe_id
           ORDER BY list_cosine_similarity(pe, e) DESC, vec_id ASC) AS rn
  FROM probes JOIN corpus ON TRUE
), top10 AS (
  SELECT * FROM ranked WHERE rn <= 10
), m AS (
  SELECT t.probe_id, t.plabel, nrel.n_rel,
         CAST(SUM(t.rel) AS BIGINT) AS hits10,
         SUM(CAST(ROUND(CAST(t.rel AS DOUBLE) / LOG2(t.rn + 1), 8)
                  AS DECIMAL(18,8))) AS dcg,
         SUM(CASE WHEN t.rn <= LEAST(10, nrel.n_rel)
                  THEN CAST(ROUND(1.0 / LOG2(t.rn + 1), 8)
                            AS DECIMAL(18,8))
                  ELSE CAST(0 AS DECIMAL(18,8)) END) AS idcg,
         MAX(CAST(t.rel AS DOUBLE) / t.rn) AS rr
  FROM top10 t JOIN nrel ON nrel.probe_id = t.probe_id
  GROUP BY t.probe_id, t.plabel, nrel.n_rel
)
SELECT probe_id, plabel AS label, CAST(n_rel AS BIGINT) AS n_rel, hits10,
       {signed_ratio_round_sql(
           'CAST(dcg * 100000000 AS BIGINT)',
           'CAST(idcg * 100000000 AS BIGINT)', 4, '//')} AS ndcg10,
       ROUND(rr, 4) AS mrr10,
       {ratio_round4_sql('hits10', 'CAST(n_rel AS BIGINT)', '//')} AS recall10
FROM m ORDER BY probe_id
""",
    doc="Retrieval-quality evaluation (NDCG@10, MRR@10, recall@10) "
    "for an embedding model: probes vec_id<10 query the rest of the "
    "corpus, graded relevance = label match, ranking by exact cosine "
    "(vec_id tie-break). DCG/IDCG terms are rounded to 8 decimals "
    "and DECIMAL-summed so the per-probe reduction is "
    "order-independent; IDCG uses the ideal min(10, n_rel)-term "
    "prefix. The eval every embedding/recall pipeline runs before "
    "trusting an index — the quality gate for llm_ann_lsh/llm_ann_ivf "
    "style indexes (those measure recall vs q_llm_knn; this measures "
    "usefulness vs labels).",
    scale_notes="Probe set broadcast (bounded eval panel), one linear "
    "scan of the corpus, per-probe top-10 via WindowGroupLimit — the "
    "q_llm_knn physical shape plus a constant-size metric reduction. "
    "At 100 TB the panel stays fixed and the scan parallelizes; "
    "nothing quadratic, no driver collect.",
)
def q_llm_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("plabel"),
        F.col("embedding").alias("pe"),
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    nrel = (
        corpus.join(
            F.broadcast(probes.select("probe_id", "plabel")),
            F.col("label") == F.col("plabel"),
        )
        .groupBy("probe_id", "plabel")
        .agg(F.count(F.lit(1)).alias("n_rel"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_raw").desc(), F.col("vec_id").asc()
    )
    top10 = (
        corpus.crossJoin(F.broadcast(probes))
        .select(
            "probe_id",
            "plabel",
            "vec_id",
            F.when(F.col("label") == F.col("plabel"), 1)
            .otherwise(0)
            .alias("rel"),
            cosine(F.col("pe"), F.col("embedding")).alias("cos_raw"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
    )
    dcg_term = F.round(
        F.col("rel").cast("double") / F.log2(F.col("rn") + 1), 8
    ).cast("decimal(18,8)")
    idcg_term = F.when(
        F.col("rn") <= F.least(F.lit(10), F.col("n_rel")),
        F.round(F.lit(1.0) / F.log2(F.col("rn") + 1), 8).cast(
            "decimal(18,8)"
        ),
    ).otherwise(F.lit(0).cast("decimal(18,8)"))
    return (
        top10.join(F.broadcast(nrel), ["probe_id", "plabel"])
        .groupBy("probe_id", "plabel", "n_rel")
        .agg(
            F.sum("rel").cast("bigint").alias("hits10"),
            (F.sum(dcg_term) * F.lit(100000000))
            .cast("bigint")
            .alias("dcg8"),
            (F.sum(idcg_term) * F.lit(100000000))
            .cast("bigint")
            .alias("idcg8"),
            F.max(F.col("rel").cast("double") / F.col("rn")).alias("rr"),
        )
        .select(
            "probe_id",
            F.col("plabel").alias("label"),
            F.col("n_rel").cast("bigint").alias("n_rel"),
            "hits10",
            # exact integer half-up (rule-8 batch-2 sweep): ndcg is a
            # ratio of two scale-8 decimal sums (wide helper), recall
            # a plain count ratio
            F.expr(
                signed_ratio_round_sql("dcg8", "idcg8", 4, "div")
            ).alias("ndcg10"),
            F.round("rr", 4).alias("mrr10"),
            F.expr(ratio_round4_sql("hits10", "n_rel", "div")).alias(
                "recall10"
            ),
        )
        .orderBy("probe_id")
    )


def _mmr_oracle() -> str:
    """Unrolled 5-stage MMR oracle: sel_t accumulates picks, each stage
    scores the remaining candidates by relevance minus redundancy
    (lambda=0.7) against the running selection and takes the argmax
    (vec_id tie-break). Generated, not hand-copied, so the stage count
    stays in one place."""
    stages = []
    sel = "s1"
    stages.append("""s1 AS (
  SELECT probe_id, vec_id, rel AS score, 1 AS pick FROM (
    SELECT probe_id, vec_id, rel,
           ROW_NUMBER() OVER (PARTITION BY probe_id
                              ORDER BY rel DESC, vec_id ASC) AS rn
    FROM cand) t WHERE rn = 1
)""")
    for t in range(2, 6):
        prev = sel
        stages.append(f"""sel{t - 1} AS (
  SELECT probe_id, vec_id FROM {prev}
  {"" if t == 2 else f"UNION ALL SELECT probe_id, vec_id FROM sel{t - 2}"}
), s{t} AS (
  SELECT probe_id, vec_id, score, {t} AS pick FROM (
    SELECT c.probe_id, c.vec_id,
           0.7 * c.rel - 0.3 * MAX(cc.sim) AS score,
           ROW_NUMBER() OVER (PARTITION BY c.probe_id
             ORDER BY 0.7 * c.rel - 0.3 * MAX(cc.sim) DESC,
                      c.vec_id ASC) AS rn
    FROM cand c
    JOIN cc ON cc.probe_id = c.probe_id AND cc.id_a = c.vec_id
    JOIN sel{t - 1} s ON s.probe_id = c.probe_id AND s.vec_id = cc.id_b
    WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{t - 1} x
                           WHERE x.probe_id = c.probe_id)
    GROUP BY c.probe_id, c.vec_id, c.rel) t WHERE rn = 1
)""")
        sel = f"s{t}"
    union = " UNION ALL ".join(
        f"SELECT * FROM s{t}" for t in range(1, 6)
    )
    return f"""
WITH probes AS (
  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pe
  FROM embeddings WHERE vec_id IN (1, 2, 3)
), cand AS (
  SELECT probe_id, vec_id, rel FROM (
    SELECT probe_id, e.vec_id,
           CAST(list_cosine_similarity(pe, CAST(e.embedding AS DOUBLE[]))
                AS DOUBLE) AS rel,
           ROW_NUMBER() OVER (PARTITION BY probe_id
             ORDER BY list_cosine_similarity(
                        pe, CAST(e.embedding AS DOUBLE[])) DESC,
                      e.vec_id ASC) AS rn
    FROM probes JOIN embeddings e ON e.vec_id <> probe_id) t
  WHERE rn <= 20
), cc AS (
  SELECT a.probe_id, a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                     CAST(eb.embedding AS DOUBLE[]))
              AS DOUBLE) AS sim
  FROM cand a
  JOIN cand b ON a.probe_id = b.probe_id AND a.vec_id <> b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
), {", ".join(stages)}
SELECT probe_id, CAST(pick AS BIGINT) AS pick,
       CAST(vec_id AS BIGINT) AS vec_id, ROUND(score, 4) AS score
FROM ({union}) u ORDER BY probe_id, pick
"""


@register(
    "q_llm_mmr_select",
    oracle=_mmr_oracle(),
    doc="Maximal-marginal-relevance diversified selection (lambda=0.7, "
    "k=5 picks from the top-20 cosine candidates per probe): greedy "
    "argmax of 0.7*relevance - 0.3*max-similarity-to-selected, vec_id "
    "tie-break — the dedup-aware exemplar/eval-set sampler (Carbonell "
    "& Goldstein 1998). First pick is the pure-relevance argmax; each "
    "later pick penalizes redundancy against everything already "
    "chosen, so near-duplicate neighbors (q_llm_cosine_pairs' "
    "clusters) cannot fill the panel. Spark side runs the greedy loop "
    "in one Arrow batch per probe via applyInPandas over the "
    "DISTRIBUTED top-20 candidate cut; the oracle is the same "
    "recurrence unrolled into 5 SQL stages. Both sides share "
    "left-to-right IEEE cosine reductions, so scores and therefore "
    "argmaxes are bit-identical.",
    scale_notes="The candidate cut (top-20 per probe) is the "
    "q_llm_knn linear-scan shape: probes broadcast, one corpus scan, "
    "WindowGroupLimit. The greedy loop then touches only k*20 rows "
    "per probe inside one Arrow batch — O(k^2 * dim) per probe, "
    "independent of corpus size. At 100 TB only the candidate scan "
    "grows; the selection never leaves the executors.",
)
def q_llm_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id").isin(1, 2, 3)).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("rel").desc(), F.col("vec_id").asc()
    )
    cand = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            cosine(F.col("pe"), F.col("embedding")).alias("rel"),
            F.col("embedding").alias("e"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("probe_id", "vec_id", "rel", "e")
    )

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        mat = f64_matrix(pdf["e"])
        sim = cosine_matrix(mat, mat)  # oracle-identical pairwise cosine
        n = len(pdf)
        rel = pdf["rel"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        chosen: list[int] = []
        scores: list[float] = []
        for _pick in range(5):
            best, best_score = -1, None
            for j in range(n):  # ids ascending -> first strict max wins
                if j in chosen:
                    continue
                if _pick == 0:
                    s = rel[j]
                else:
                    s = 0.7 * rel[j] - 0.3 * max(
                        sim[j][c] for c in chosen
                    )
                if best_score is None or s > best_score:
                    best, best_score = j, s
            chosen.append(best)
            scores.append(float(best_score))
        return pd.DataFrame(
            {
                "probe_id": pdf["probe_id"].iloc[0],
                "pick": np.arange(1, 6, dtype=np.int64),
                "vec_id": ids[chosen].astype(np.int64),
                "score": scores,
            }
        )

    out = cand.groupBy("probe_id").applyInPandas(
        mmr, "probe_id bigint, pick bigint, vec_id bigint, score double"
    )
    return out.select(
        "probe_id", "pick", "vec_id", F.round("score", 4).alias("score")
    ).orderBy("probe_id", "pick")


@register(
    "q_llm_ood_score",
    oracle="""
WITH e AS (
  SELECT vec_id, label, unnest(CAST(embedding AS DOUBLE[])) AS val,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
), stats AS (
  SELECT label, pos, ROUND(AVG(val), 6) AS mu,
         ROUND(AVG(val * val), 6) AS msq
  FROM e GROUP BY label, pos
), terms AS (
  SELECT e.vec_id, e.label,
         CAST(ROUND(POW(e.val - s.mu, 2)
                    / (s.msq - s.mu * s.mu + 0.01), 8)
              AS DECIMAL(20,8)) AS z2
  FROM e JOIN stats s ON s.label = e.label AND s.pos = e.pos
), scored AS (
  SELECT vec_id, label, SUM(z2) AS score FROM terms
  GROUP BY vec_id, label
)
SELECT vec_id, label, ROUND(CAST(score AS DOUBLE), 4) AS ood_score
FROM scored
ORDER BY score DESC, vec_id ASC LIMIT 20
""",
    doc="Embedding OOD/outlier screen (diagonal-Mahalanobis distance "
    "to the own-label centroid): per (label, dim) mean and second "
    "moment (both ROUND-6 so downstream arithmetic is "
    "engine-identical), per-vector score = sum over dims of "
    "(x - mu)^2 / (var + 0.01), terms ROUND-8 DECIMAL-summed "
    "(order-independent), top-20 most-out-of-distribution vectors — "
    "the DISTRIBUTIONAL complement of llm_doc_embed_cohesion's "
    "cosine-to-centroid (variance-normalized per dimension, so a "
    "tight cluster flags small absolute deviations) and of "
    "q_dq_embeddings' structural checks. The screen a curation "
    "pipeline runs to drop mislabeled / corrupted vectors before "
    "training.",
    scale_notes="Shuffle carries (label, pos) partial moments — "
    "labels x dim rows, corpus-size independent; the 640-row stats "
    "ledger broadcasts back onto one posexplode pass. Top-20 is "
    "TakeOrderedAndProject. Same envelope as q_llm_centroid.",
)
def q_llm_ood_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos0", "val"
        ),
    ).select(
        "vec_id", "label", (F.col("pos0") + 1).alias("pos"), "val"
    )
    stats = e.groupBy("label", "pos").agg(
        F.round(F.avg("val"), 6).alias("mu"),
        F.round(F.avg(F.col("val") * F.col("val")), 6).alias("msq"),
    )
    z2 = F.round(
        F.pow(F.col("val") - F.col("mu"), 2)
        / (F.col("msq") - F.col("mu") * F.col("mu") + 0.01),
        8,
    ).cast("decimal(20,8)")
    return (
        e.join(F.broadcast(stats), ["label", "pos"])
        .select("vec_id", "label", z2.alias("z2"))
        .groupBy("vec_id", "label")
        .agg(F.sum("z2").alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(20)
        .select(
            "vec_id",
            "label",
            F.round(F.col("score").cast("double"), 4).alias("ood_score"),
        )
    )


@register(
    "q_llm_prf_expand",
    oracle="""
WITH probes AS (
  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pe
  FROM embeddings WHERE vec_id IN (1, 2, 3)
), r0 AS (
  SELECT probe_id, vec_id, rn0 FROM (
    SELECT probe_id, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY probe_id
             ORDER BY list_cosine_similarity(
                        pe, CAST(e.embedding AS DOUBLE[])) DESC,
                      e.vec_id ASC) AS rn0
    FROM probes JOIN embeddings e ON e.vec_id <> probe_id) t
  WHERE rn0 <= 10
), fb AS (
  SELECT r0.probe_id, pos, ROUND(AVG(val), 6) AS fbv
  FROM r0
  JOIN (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings) x ON x.vec_id = r0.vec_id
  GROUP BY r0.probe_id, pos
), q2 AS (
  SELECT p.probe_id,
         array_agg(ROUND(0.7 * pe[fb.pos] + 0.3 * fb.fbv, 6)
                   ORDER BY fb.pos) AS pe2
  FROM probes p JOIN fb ON fb.probe_id = p.probe_id
  GROUP BY p.probe_id
), r2 AS (
  SELECT probe_id, vec_id, cos2, rn2 FROM (
    SELECT q2.probe_id, e.vec_id,
           CAST(list_cosine_similarity(pe2, CAST(e.embedding AS DOUBLE[]))
                AS DOUBLE) AS cos2,
           ROW_NUMBER() OVER (PARTITION BY q2.probe_id
             ORDER BY list_cosine_similarity(
                        pe2, CAST(e.embedding AS DOUBLE[])) DESC,
                      e.vec_id ASC) AS rn2
    FROM q2 JOIN embeddings e ON e.vec_id <> q2.probe_id) t
  WHERE rn2 <= 5
)
SELECT r2.probe_id, CAST(r2.rn2 AS BIGINT) AS rank, r2.vec_id,
       ROUND(r2.cos2, 4) AS cos,
       CAST(COALESCE(r0.rn0, -1) AS BIGINT) AS prev_rank
FROM r2 LEFT JOIN r0 ON r0.probe_id = r2.probe_id
                    AND r0.vec_id = r2.vec_id
ORDER BY r2.probe_id, rank
""",
    doc="Pseudo-relevance-feedback query expansion (Rocchio, "
    "beta-only): round-1 exact-cosine top-10 per probe feeds a "
    "per-dimension feedback centroid (ROUND-6), the expanded query "
    "q' = round6(0.7 q + 0.3 centroid) re-ranks the corpus, and the "
    "new top-5 is reported with each hit's round-1 rank (-1 = pulled "
    "in by expansion) — the classic two-pass retrieval refinement "
    "(Rocchio 1971) on embedding space. Complements "
    "q_llm_retrieval_eval: that MEASURES ranking quality, this is "
    "the standard trick for IMPROVING it.",
    scale_notes="Two q_llm_knn-shaped passes: probes broadcast, one "
    "corpus scan each, per-probe WindowGroupLimit; between them a "
    "probes x dim feedback ledger (30 rows). Nothing quadratic; at "
    "100 TB both passes ride the same ANN index (llm_ann_lsh/ivf) "
    "instead of the linear scan.",
)
def q_llm_prf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id").isin(1, 2, 3)).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    w0 = Window.partitionBy("probe_id").orderBy(
        F.col("cos0").desc(), F.col("vec_id").asc()
    )
    r0 = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            cosine(F.col("pe"), F.col("embedding")).alias("cos0"),
        )
        .withColumn("rn0", F.row_number().over(w0))
        .filter(F.col("rn0") <= 10)
        .select("probe_id", "vec_id", "rn0")
    )
    fb = group_mean_vector(
        r0.join(emb, "vec_id"), "probe_id", "embedding", "fbv", scale=6
    )
    q2 = fb.join(F.broadcast(probes), "probe_id").select(
        "probe_id",
        F.zip_with(
            F.col("pe").cast("array<double>"),
            "fbv",
            lambda q, c: F.round(0.7 * q + 0.3 * c, 6),
        ).alias("pe2"),
    )
    w2 = Window.partitionBy("probe_id").orderBy(
        F.col("cos2").desc(), F.col("vec_id").asc()
    )
    r2 = (
        emb.crossJoin(F.broadcast(q2))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            cosine(F.col("pe2"), F.col("embedding")).alias("cos2"),
        )
        .withColumn("rn2", F.row_number().over(w2))
        .filter(F.col("rn2") <= 5)
    )
    return (
        r2.join(r0, ["probe_id", "vec_id"], "left")
        .select(
            "probe_id",
            F.col("rn2").cast("bigint").alias("rank"),
            "vec_id",
            F.round("cos2", 4).alias("cos"),
            F.coalesce(F.col("rn0"), F.lit(-1)).cast("bigint").alias(
                "prev_rank"
            ),
        )
        .orderBy("probe_id", "rank")
    )


@register(
    "q_llm_align_uniform",
    oracle=f"""
WITH pr AS (
  SELECT a.label AS la, b.label AS lb,
         2 - 2 * CAST(list_cosine_similarity(
                   CAST(a.embedding AS DOUBLE[]),
                   CAST(b.embedding AS DOUBLE[])) AS DOUBLE) AS d2
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
), m AS (
  SELECT CAST(COUNT(CASE WHEN la = lb THEN 1 END) AS BIGINT) AS n_same,
         CAST(COUNT(*) AS BIGINT) AS n_all,
         SUM(CASE WHEN la = lb
                  THEN CAST(ROUND(d2, 8) AS DECIMAL(20,8))
                  ELSE CAST(0 AS DECIMAL(20,8)) END) AS sum_d2_same,
         SUM(CAST(ROUND(EXP(-2 * d2), 8) AS DECIMAL(20,8))) AS sum_exp
  FROM pr
)
SELECT n_same AS n_pairs_same, n_all AS n_pairs_all,
       {decimal_mean_round4_sql(
           'CAST(sum_d2_same * 100000000 AS BIGINT)', 'n_same', 8, '//')}
         AS alignment,
       ROUND(LN(CAST(sum_exp AS DOUBLE) / n_all), 4) AS uniformity
FROM m
""",
    doc="Representation-quality metrics of Wang & Isola (2020): "
    "ALIGNMENT = mean squared unit-sphere distance between same-label "
    "pairs (lower = same-class embeddings agree) and UNIFORMITY = "
    "log-mean Gaussian potential exp(-2 d^2) over ALL pairs (lower = "
    "features spread over the sphere) — the two-number health check "
    "run on an embedding model before using it for retrieval or "
    "dedup. Unit-sphere distance comes exactly from cosine "
    "(d^2 = 2 - 2 cos, both engines' bit-identical reduction); d2 "
    "and exp terms are ROUND-8 DECIMAL-summed (order-independent).",
    scale_notes="Deliberate eval-only all-pairs over the bounded "
    "embeddings fixture (125k pairs) — at 100 TB both metrics are "
    "ESTIMATED from a fixed-size pair sample (they are means, so a "
    "hash-sampled pair subset gives an unbiased estimate with "
    "known error); never run all-pairs at scale. Same status as "
    "q_llm_cosine_pairs' naive twin.",
)
def q_llm_align_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("ida"),
        F.col("label").alias("la"),
        F.col("embedding").alias("ea"),
    )
    b = emb.select(
        F.col("vec_id").alias("idb"),
        F.col("label").alias("lb"),
        F.col("embedding").alias("eb"),
    )
    pr = a.join(b, F.col("ida") < F.col("idb")).select(
        "la",
        "lb",
        (2 - 2 * cosine_pandas(F.col("ea"), F.col("eb"))).alias("d2"),
    )
    same = F.col("la") == F.col("lb")
    zero = F.lit(0).cast("decimal(20,8)")
    m = pr.agg(
        F.sum(F.when(same, 1).otherwise(0)).cast("bigint").alias("n_same"),
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum(
            F.when(same, F.round(F.col("d2"), 8).cast("decimal(20,8)"))
            .otherwise(zero)
        ).alias("sum_d2_same"),
        F.sum(
            F.round(F.exp(-2 * F.col("d2")), 8).cast("decimal(20,8)")
        ).alias("sum_exp"),
    )
    return m.select(
        F.col("n_same").alias("n_pairs_same"),
        F.col("n_all").alias("n_pairs_all"),
        # exact integer half-up (rule-8 batch-2 sweep)
        F.expr(
            decimal_mean_round4_sql(
                "CAST(sum_d2_same * 100000000 AS BIGINT)", "n_same", 8,
                "div",
            )
        ).alias("alignment"),
        F.round(
            F.log(F.col("sum_exp").cast("double") / F.col("n_all")), 4
        ).alias("uniformity"),
    )


@register(
    "q_llm_hubness",
    oracle="""
WITH scored AS (
  SELECT a.vec_id AS qid, b.vec_id AS cid,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
           ORDER BY list_cosine_similarity(
                      CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])) DESC,
                    b.vec_id ASC) AS rn
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id % 4 = 0
), occ AS (
  SELECT e.vec_id,
         CAST(COUNT(s.cid) AS BIGINT) AS n_k5
  FROM embeddings e
  LEFT JOIN (SELECT cid FROM scored WHERE rn <= 5) s
    ON s.cid = e.vec_id
  GROUP BY e.vec_id
)
SELECT n_k5, CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM occ GROUP BY n_k5 ORDER BY n_k5
""",
    doc="Hubness diagnostic (Radovanovic 2010): the k-occurrence "
    "histogram — for k=5, how many vectors appear in exactly n "
    "panel queries' top-5 neighbor lists (vec_id tie-break), the "
    "query panel being the deterministic 25% sample vec_id % 4 = 0 "
    "(hubness is a distributional property, so a fixed query sample "
    "estimates it — the same sampling the scale path uses). A healthy "
    "space concentrates near n=5; a hubby space shows a long right "
    "tail (hubs that answer every query) plus a spike at n=0 "
    "(antihubs that answer none) — the pathology that silently "
    "degrades q_llm_knn/llm_ann_* retrieval and q_llm_embed_dedup "
    "recall in high dimensions. Pure integer output.",
    scale_notes="Eval-only all-pairs ranking over the bounded "
    "embeddings fixture; at scale the k-occurrence counts come from "
    "the ANN index's actual answer lists (llm_ann_lsh/ivf) over a "
    "query sample — the histogram aggregation itself is one "
    "ledger-sized shuffle either way.",
)
def q_llm_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("ea")
    ).repartition(32, "qid")  # spread the pair fan-out across tasks
    b = emb.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("eb")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("c").desc(), F.col("cid").asc()
    )
    top5 = (
        a.join(F.broadcast(b), F.col("cid") != F.col("qid"))
        .select(
            "qid", "cid", cosine_pandas(F.col("ea"), F.col("eb")).alias("c")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("cid")
    )
    occ = (
        emb.select("vec_id")
        .join(top5, emb["vec_id"] == top5["cid"], "left")
        .groupBy("vec_id")
        .agg(F.count("cid").cast("bigint").alias("n_k5"))
    )
    return (
        occ.groupBy("n_k5")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .orderBy("n_k5")
    )
