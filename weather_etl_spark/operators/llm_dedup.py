"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2 B.9 + the north-star mandate, BASELINE.json:6).

Generalizes the reference's keyed dedup-on-write (A11, ON CONFLICT DO
NOTHING) to content-level dedup over the `documents` table:

- exact dedup (hash groupBy on the full text),
- content fingerprinting (md5 — portable across engines),
- SimHash (64-bit-ish locality hash from md5-derived token hashes —
  fully deterministic, exact-oracled),
- n-gram (3-token shingle) Jaccard near-dup pairs,
- MinHash + LSH (pyspark.ml, banded approximate join — rows-only:
  hash family is engine-specific).

Scale notes (100 TB): exact dedup on raw text shuffles full documents —
at scale group on md5(text) instead (same equivalence classes, 16-byte
shuffle keys; q_llm_fingerprint is that path).  Shingle/MinHash/LSH
costs scale with Σ df² of the banded buckets, not n² — the standard
web-scale near-dup pipeline shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_etl_spark.checkpoints import (
    release_rdds,
    tracked_local_checkpoint,
)
from weather_etl_spark.functions.exact import (
    cosine_matrix,
    f64_matrix,
    md5_prefix_int,
    ratio_round4_sql,
    signed_ratio_round_sql,
    word_ngrams,
)
from weather_etl_spark.io import read_table
from weather_etl_spark.registry import register


def shingles3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) table of distinct 3-token shingles — shared by
    the exact-oracled shingle family (ngram_jaccard, jaccard_prefix,
    minhash_banded).  Docs with fewer than 3 tokens emit NO shingles,
    the DuckDB oracles' empty ``generate_series`` (see
    :func:`word_ngrams`)."""
    return (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(word_ngrams("toks", 3))).alias(
                "shingle"
            ),
        )
    )


#: MinHash geometry shared by the banded family: 12 permutations,
#: banded 4 x 3 (P[collide] = 1 - (1 - J^3)^4).
N_PERM, BAND_ROWS = 12, 3


def minhash_signature(shingles: DataFrame) -> DataFrame:
    """(doc_id, m0..m11): permutation i's hash of shingle s is the
    portable md5 prefix of ``i ':' s``; one ``groupBy(doc_id)`` takes
    all 12 minima, so the shuffle carries 12 longs per doc."""
    return shingles.groupBy("doc_id").agg(
        *[
            F.min(
                md5_prefix_int(F.concat_ws(":", F.lit(i), "shingle"), 15)
            ).alias(f"m{i}")
            for i in range(N_PERM)
        ]
    )


def band_candidates(sig: DataFrame) -> DataFrame:
    """Distinct (id_a < id_b) pairs that agree on every row of at least
    one band; a band key is its 3 minima joined by ','."""
    m = [F.col(f"m{i}").cast("string") for i in range(N_PERM)]
    keys = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(",", *m[b * BAND_ROWS : (b + 1) * BAND_ROWS]).alias(
                "bkey"
            ),
        )
        for b in range(N_PERM // BAND_ROWS)
    ]
    bands = sig.select("doc_id", F.inline(F.array(*keys)))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )


def overlap_all_pairs(shingles: DataFrame) -> DataFrame:
    """(id_a, id_b, common, n_a, n_b) for every doc pair sharing a
    shingle: the inverted-index self-join, cost Σ df(shingle)²."""
    a, b = shingles.alias("a"), shingles.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    card = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ca = card.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    cb = card.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(ca, "id_a")
        .join(cb, "id_b")
        .select("id_a", "id_b", "common", "n_a", "n_b")
    )


def overlap_candidates(shingles: DataFrame, cand: DataFrame) -> DataFrame:
    """(id_a, id_b, common, n_a, n_b) for the given candidate pairs
    only: each doc's shingle set is collected once and the pair's
    overlap is the size of the set intersection."""
    sets = shingles.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("sh"),
        F.count(F.lit(1)).alias("n"),
    )
    sa = sets.select(
        F.col("doc_id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        F.col("n").alias("n_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("id_b"),
        F.col("sh").alias("sh_b"),
        F.col("n").alias("n_b"),
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("common"),
            "n_a",
            "n_b",
        )
    )


def _jaccard() -> Column:
    """common / |A ∪ B| over an overlap table's columns."""
    return F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    )


def _jaccard_at_least(overlap: DataFrame, t: float) -> DataFrame:
    """(id_a, id_b, jaccard) for the overlap rows with Jaccard >= t,
    rounded by exact integer half-up (rule-8 batch-2 sweep)."""
    return overlap.filter(_jaccard() >= t).select(
        "id_a",
        "id_b",
        F.expr(ratio_round4_sql("common", "n_a + n_b - common", "div")).alias(
            "jaccard"
        ),
    )


@register(
    "q_llm_exact_dedup",
    oracle="""
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY text
""",
    doc="Exact text dedup: group by content, keep the smallest doc_id "
    "as canonical (A11 generalized from key to content identity).",
)
def q_llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    ).select("keep_id", "n_copies")


@register(
    "q_llm_fingerprint",
    oracle="""
SELECT doc_id, md5(text) AS fp,
       COUNT(*) OVER (PARTITION BY md5(text)) AS n_same_fp
FROM documents
""",
    doc="Document fingerprinting: md5 content hash (portable across "
    "engines) + per-fingerprint cardinality — the 100 TB exact-dedup "
    "path (16-byte shuffle keys instead of full text).",
)
def q_llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    fp = F.md5("text")
    w = Window.partitionBy(fp)
    return docs.select(
        "doc_id", fp.alias("fp"), F.count(F.lit(1)).over(w).alias("n_same_fp")
    )


@register(
    "q_llm_simhash",
    oracle="""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
), th AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h
  FROM tok
), bits AS (
  SELECT doc_id, b.b,
         SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS net
  FROM th CROSS JOIN generate_series(0, 59) b(b)
  GROUP BY doc_id, b.b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN net > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
            AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
""",
    doc="SimHash document sketch: 60-bit locality-sensitive hash from "
    "md5-derived token hashes (deterministic, engine-portable — near-dup "
    "docs differ in few bits).",
    scale_notes="Single grouped aggregate: the 60 bit-counters are 60 "
    "map-side partial sums over the token-hash rows (one shuffle "
    "carrying 60 longs per doc, no x60 row explosion). All bit math is "
    "codegen'd JVM expressions.",
)
def q_llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return _simhash(docs)


def _simhash(docs: DataFrame, n_bits: int = 60) -> DataFrame:
    """(doc_id, simhash) — shared by the declared sketch row and the
    banded edit-distance candidate generator."""
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )
    th = tok.select("doc_id", md5_prefix_int("token", 15).alias("h"))
    # One aggregate with 60 partial-summed ±1 counters beats the
    # (doc x bit) explode: the shuffle carries 60 longs per doc instead
    # of 60 rows per token.
    net = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"net{b}")
            for b in range(n_bits)
        ]
    )
    bit_terms = [
        F.when(F.col(f"net{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(n_bits)
    ]
    simhash = bit_terms[0]
    for term in bit_terms[1:]:
        simhash = simhash + term
    return net.select("doc_id", simhash.cast("bigint").alias("simhash"))


@register(
    "q_llm_ngram_jaccard",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           generate_series(1, len(string_split(text, ' ')) - 2),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
         )) AS shingle
  FROM documents
), card AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       {ratio_round4_sql('common', 'ca.n + cb.n - common', '//')} AS jaccard
FROM pairs
JOIN card ca ON ca.doc_id = id_a
JOIN card cb ON cb.doc_id = id_b
WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.5
""",
    doc="n-gram (3-token shingle) Jaccard near-duplicate pairs: "
    "shingle -> inverted index self-join -> |A∩B| / |A∪B| >= 0.5.",
    scale_notes="Cost is Σ df(shingle)² (inverted-index join), not n² — "
    "the shingle selectivity is what makes near-dup tractable at scale; "
    "MinHash banding (llm_near_dedup) bounds it further.",
)
def q_llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_at_least(overlap_all_pairs(shingles3(spark, sf_dir)), 0.5)


@register(
    "llm_jaccard_prefix",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           generate_series(1, len(string_split(text, ' ')) - 2),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
         )) AS shingle
  FROM documents
), card AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       {ratio_round4_sql('common', 'ca.n + cb.n - common', '//')} AS jaccard
FROM pairs
JOIN card ca ON ca.doc_id = id_a
JOIN card cb ON cb.doc_id = id_b
WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.5
""",
    doc="EXACT Jaccard >= 0.5 pairs via prefix filtering (the published "
    "AllPairs/PPJoin set-similarity join): order each doc's shingles "
    "rarest-first by global document frequency, index only the first "
    "|A| - ceil(t*|A|) + 1 of them, and self-join on that prefix — any "
    "pair with Jaccard >= t MUST share a prefix token (pigeonhole on "
    "the overlap lower bound o >= t*|A|), so candidates are lossless. "
    "Candidates are then verified with the exact intersection size. "
    "Same oracle as q_llm_ngram_jaccard: provably identical output at "
    "sub-quadratic candidate cost.",
    scale_notes="Fixes the base row's hot-shingle Σdf² blowup: the "
    "inverted index holds only prefix tokens, which are the globally "
    "RAREST shingles of each doc, so boilerplate n-grams never enter "
    "the join. Extra cost is one df aggregate and one per-doc window "
    "rank; verification joins carry shingle-key arrays only for "
    "surviving candidates. The size filter t*|A| <= |B| <= |A|/t "
    "prunes cross-length candidates before verification. r12: every "
    "shuffle/compare runs on injective xxhash64 keys (proved per run "
    "by an exact distinct-count comparison, string fallback on the "
    "2^-64 collision event) and PPJoin's positional upper bound "
    "prunes candidates before the verify join — 8-byte keys instead "
    "of shingle strings on every exchange, ~2.6x fewer verified "
    "pairs, identical output on every input.",
)
def llm_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = 0.5
    shingles = shingles3(spark, sf_dir).withColumn(
        "k", F.xxhash64("shingle")
    )
    # The shingle table feeds three consumers (df aggregate, prefix rank,
    # verification sets); Catalyst does not CSE across them, so cut the
    # lineage once instead of re-running scan+explode three times.  At
    # 100 TB this is a checkpoint to durable storage instead.
    shingles = shingles.localCheckpoint()
    # Injective key compression (r12, guide §2.3 "shuffle keys and
    # metadata instead of payloads"): every downstream step — df
    # counts, rarest-first rank, the prefix self-join, the verification
    # intersect — depends only on shingle IDENTITY, never content, so
    # an injective relabeling to 64-bit keys computes the identical
    # result while shuffling/comparing 8-byte longs instead of ~30-byte
    # strings (measured at sf0.1: verify-stage CPU 11-50 s -> ~3 s).
    # Injectivity is PROVED per run, not assumed: one exact aggregate
    # compares the corpus' distinct-shingle and distinct-key counts,
    # and the 2^-64-probability collision event falls back to the
    # original string-keyed pipeline — output is bit-identical on every
    # input, with no collision caveat at any scale.
    inj = shingles.agg(
        F.countDistinct("shingle").alias("ns"),
        F.countDistinct("k").alias("nk"),
    ).first()
    key = "k" if inj["ns"] == inj["nk"] else "shingle"
    sh = shingles.select("doc_id", F.col(key).alias("key"))
    card = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    df_tbl = sh.groupBy("key").agg(F.count(F.lit(1)).alias("df"))
    # Rarest-first canonical order; (df, key) is a total order on the
    # shingle universe (key is injective this run) so the prefix is
    # deterministic and consistent across docs — the AllPairs
    # losslessness proof only needs SOME global total order.
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.col("df").asc(), F.col("key").asc()
        )
    )
    pre = (
        sh.join(df_tbl, "key")
        .withColumn("rk", rk)
        .join(card, "doc_id")
        .filter(F.col("rk") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1)
        .select("doc_id", "key", "n", "rk")
    )
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # AllPairs size filter: |B| in [t*|A|, |A|/t] is necessary
            # for Jaccard >= t, so skip impossible length ratios early.
            & (F.col("b.n") >= F.ceil(F.lit(t) * F.col("a.n")))
            & (F.col("b.n") <= F.floor(F.col("a.n") / F.lit(t))),
        )
        # PPJoin positional filter (r12): instead of dedup-ing raw
        # prefix collisions, aggregate them per pair and keep the match
        # positions.  With both docs sorted by the same global order,
        # every common shingle beyond the LAST prefix match (positions
        # ra/rb) sits after ra in A and after rb in B, so the true
        # overlap is bounded by cp + min(n_a - ra, n_b - rb); Jaccard
        # >= t needs overlap >= ceil(t/(1+t) * (n_a + n_b)).  Pairs
        # whose upper bound cannot reach that never enter the
        # verification join (measured at sf0.1: 309,803 -> 119,907
        # candidates, verify-stage CPU roughly halved).  Pruning-only:
        # the bound is provably >= the true overlap, so no qualifying
        # pair is dropped.
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("cp"),
            F.max(F.col("a.rk")).alias("ra"),
            F.max(F.col("b.rk")).alias("rb"),
            F.first(F.col("a.n")).alias("na"),
            F.first(F.col("b.n")).alias("nb"),
        )
        .filter(
            F.col("cp")
            + F.least(
                F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")
            )
            >= F.ceil(F.lit(t) / F.lit(1.0 + t) * (F.col("na") + F.col("nb")))
        )
        .select("id_a", "id_b")
    )
    keyed = sh.select("doc_id", F.col("key").alias("shingle"))
    return _jaccard_at_least(overlap_candidates(keyed, cand), t)


@register(
    "llm_near_dedup",
    oracle=None,  # LSH hash family is engine-specific (rows-only)
    doc="MinHash + LSH near-duplicate detection (pyspark.ml MinHashLSH, "
    "fixed seed) over 3-token shingle sets: shingle -> sparse vector -> "
    "minhash bands -> approxSimilarityJoin at Jaccard distance <= 0.2 "
    "(the standard ~0.8-similarity web-dedup threshold).",
    scale_notes="The banded join only compares within-bucket candidates "
    "— the web-scale near-dedup shape. numHashTables trades recall for "
    "bucket width. Shingling (not unigrams) is what keeps buckets "
    "selective: on a shared-vocabulary corpus unigram sets make most "
    "pairs collide and the join degenerates toward n².",
)
def llm_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # MinHashLSH rejects an empty set: a doc under 3 tokens is one
    # whole-document shingle
    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .select(
            "doc_id",
            F.array_distinct(
                F.when(F.size("t") >= 3, word_ngrams("t", 3)).otherwise(
                    F.array(F.concat_ws(" ", "t"))
                )
            ).alias("toks"),
        )
    )
    tf = HashingTF(
        inputCol="toks", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(docs)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, threshold=0.2, distCol="jaccard_dist"
    )
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            F.round("jaccard_dist", 4).alias("jaccard_dist"),
        )
    )


@register(
    "q_llm_embed_dedup",
    oracle="""
WITH pairs AS (
  SELECT e.vec_id, o.vec_id AS other_id
  FROM embeddings e JOIN embeddings o ON o.vec_id < e.vec_id
  WHERE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                               CAST(o.embedding AS DOUBLE[])) > 0.45
)
SELECT vec_id, MIN(other_id) AS dup_of, COUNT(*) AS n_near
FROM pairs GROUP BY vec_id
""",
    doc="Embedding-cosine near-duplicate dedup: a vector is a duplicate "
    "if some LOWER-id vector has cosine > 0.45; emit (vec_id, its "
    "canonical lowest-id near-neighbor, neighbor count). Rows absent "
    "from the output are the kept set — greedy min-id representative "
    "semantics, the vector-space analogue of A11's keyed ON CONFLICT "
    "dedup (/root/reference/lambda_function.py:176-182).",
    scale_notes="The self-join shape is the correctness baseline; at "
    "100 TB block it with llm_ann_lsh/llm_ann_ivf cell assignment first "
    "so only same-bucket pairs are compared, then apply the same "
    "min-id-wins reduction per bucket.",
)
def q_llm_embed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_etl_spark.operators.llm_vector import cosine_pandas

    emb = read_table(spark, sf_dir, "embeddings")
    a = emb.select("vec_id", F.col("embedding").alias("ea"))
    b = emb.select(
        F.col("vec_id").alias("other_id"), F.col("embedding").alias("eb")
    )
    return (
        a.join(b, F.col("other_id") < F.col("vec_id"))
        .filter(cosine_pandas(F.col("ea"), F.col("eb")) > 0.45)
        .groupBy("vec_id")
        .agg(
            F.min("other_id").alias("dup_of"),
            F.count(F.lit(1)).alias("n_near"),
        )
    )


@register(
    "llm_embed_dedup_blocked",
    oracle="""
WITH pairs AS (
  SELECT e.vec_id, o.vec_id AS other_id
  FROM embeddings e JOIN embeddings o ON o.vec_id < e.vec_id
  WHERE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                               CAST(o.embedding AS DOUBLE[])) > 0.45
)
SELECT vec_id, MIN(other_id) AS dup_of, COUNT(*) AS n_near
FROM pairs GROUP BY vec_id
""",
    doc="Banded-EXACT embedding near-dup dedup: identical output to "
    "q_llm_embed_dedup (same oracle) without the unconditional all-pairs "
    "self-join. K-means cells band the corpus; only cell pairs the "
    "triangle inequality cannot rule out are compared, with exact "
    "cosine inside. Proof of no missed pair: cos(a,b) > t implies "
    "||a_hat-b_hat|| < r = sqrt(2-2t) on the unit sphere, and for cell "
    "representatives c_A, c_B with radii r_A = max dist(member, c_A): "
    "d(c_A,c_B) <= d(c_A,a_hat) + d(a_hat,b_hat) + d(b_hat,c_B) "
    "< r_A + r + r_B — so every qualifying pair lives in an admissible "
    "cell pair, for ANY assignment (better clustering only tightens "
    "radii, never correctness).",
    scale_notes="Compare cost is sum(|c_i|*|c_j|) over admissible cell "
    "pairs — sub-quadratic whenever clusters are separated relative to "
    "r, degrading gracefully to the exact O(n^2) on pathological "
    "(unclusterable) data instead of losing pairs. The verify is "
    "BLOCK-scored (_banded_qualifying_pairs): one cogrouped task per "
    "admissible cell pair, vectorized dimension-major scoring, only "
    "qualifying pairs ever emitted — each vector shuffles <= k times "
    "and no per-pair row exists (r7: 11.75 s -> 4.4 s at sf0.1 where "
    "banding admits all pairs). Task memory is 4096 x |c_b| doubles "
    "(row-chunked). At 100 TB: raise k ~ sqrt(n) so cells stay "
    "task-sized, and recurse (band within oversized cells). "
    "Centroid/radius state is k x dim floats on the driver (bounded).",
)
def llm_embed_dedup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = 0.45
    qual = _banded_qualifying_pairs(spark, sf_dir, t)
    return qual.groupBy(F.col("id_hi").alias("vec_id")).agg(
        F.min("id_lo").alias("dup_of"),
        F.count(F.lit(1)).alias("n_near"),
    )


def _banded_cells(
    spark: SparkSession, sf_dir: str, t: float, k: int = 8, iters: int = 1
):
    """Shared banding state for the banded-EXACT operators: k-means
    cell assignment plus the triangle-inequality admissible cell-pair
    list (see llm_embed_dedup_blocked's proof).  Returns
    ``(celled, admissible)`` where ``celled`` has columns
    (vec_id, embedding, cell) and ``admissible`` is a bounded k x k
    driver-side list of ordered (ca, cb) ints — or ``None`` on an
    empty corpus (A12 short-circuit).

    Clustering quality affects only pruning, never correctness, so one
    Lloyd iteration suffices; the (vec_id, cell, cos) assignment is
    computed ONCE by the Arrow-vectorized ``assign_cell`` (r12: the
    interpreted HOF cosine tree it replaced cost 12.3 s of CPU at sf0.1)
    and localCheckpoint'd — the radius pass and every consumer reuse it
    instead of re-evaluating k cosines per row.
    """
    import numpy as np

    from weather_etl_spark.operators.llm_vector import (
        assign_cell,
        lloyd_kmeans,
    )

    r = float(np.sqrt(2.0 - 2.0 * t))

    emb = read_table(spark, sf_dir, "embeddings").cache()
    try:
        centroids = lloyd_kmeans(emb, k, iters)
        if not centroids:  # empty corpus -> no cells, no pairs (A12)
            return None
        k = len(centroids)  # lloyd_kmeans clamps k on tiny corpora
        assign = assign_cell(centroids)
        celled = (
            emb.withColumn("a", assign(F.col("embedding")))
            .select("vec_id", "embedding", "a.cell", "a.cos")
            .localCheckpoint()
        )
    finally:
        emb.unpersist()
    # Radius = max unit-sphere distance sqrt(2 - 2 cos) from a member to
    # its centroid direction, i.e. at the member's MIN cosine.  min()
    # skips NULL cosines (zero or NaN vectors, which never qualify); a
    # cell of only those gets no bound (inf), and a zero/NaN centroid's
    # NaN distances pass the admissible test below: pruning drops only
    # what the bound provably rules out.
    radius_rows = (
        celled.groupBy("cell").agg(F.min("cos").alias("cos")).collect()
    )
    radii = np.zeros(k)
    for row in radius_rows:
        c = row["cos"]
        radii[row["cell"]] = (
            np.inf if c is None else np.sqrt(max(0.0, 2.0 - 2.0 * c))
        )

    # Admissible ordered cell pairs (a bounded k x k list), over the
    # unit-normalized centroids.  1e-9 slack absorbs FP rounding
    # drift between the Spark-side cosines and the numpy-side cd;
    # widening is pruning-only, so it can never drop a qualifying pair.
    reps = np.array(centroids, dtype=np.float64)
    with np.errstate(invalid="ignore"):  # a zero centroid -> NaN row
        reps /= np.linalg.norm(reps, axis=1, keepdims=True)
    cd = np.linalg.norm(reps[:, None, :] - reps[None, :, :], axis=2)
    admissible = [
        (int(i), int(j))
        for i in range(k)
        for j in range(k)
        if not cd[i, j] > r + radii[i] + radii[j] + 1e-9
    ]
    return celled.select("vec_id", "embedding", "cell"), admissible


def _banded_qualifying_pairs(
    spark: SparkSession, sf_dir: str, t: float, k: int = 8, iters: int = 1
) -> DataFrame:
    """Every ordered pair (id_lo < id_hi) with exact cosine > t,
    computed BLOCK-AT-A-TIME: one cogrouped-Pandas task per admissible
    cell pair scores the |c_a| x |c_b| block in numpy and emits ONLY
    the qualifying pairs.  Columns: id_lo, id_hi, cos_raw.

    Versus a per-pair path (one candidate row per admissible pair +
    pandas-UDF cosine filter) nothing pair-shaped is ever shuffled or
    materialized: the r7 profile at sf0.1 showed that path spending
    10.6 s of its 14.6 s total building and scoring 1,999,000
    candidate rows of 2 x 64 doubles each (the near-orthogonal fixture
    admits every pair), while this shape shuffles each vector once per
    admissible pair of its cell (<= k copies) and scores blocks with
    vectorized dimension-major accumulation.

    Scores come from ``functions/exact.cosine_matrix``, bit-identical
    to ``cosine_pandas`` and DuckDB's list_cosine_similarity loop.
    """
    import numpy as np
    import pandas as pd

    out_schema = "id_lo bigint, id_hi bigint, cos_raw double"
    state = _banded_cells(spark, sf_dir, t, k, iters)
    if state is None:
        return spark.createDataFrame([], out_schema)
    celled, admissible = state
    # fully distinct column names per side: lo and hi share the celled
    # lineage, and Spark's ambiguous-self-join analyzer rejects a
    # cogroup whose two sides reference the same attribute ids.
    # pid base = actual cell-id bound, not a fixed constant: scale_notes
    # advise k ~ sqrt(n) at 100 TB, where a fixed 1024 base would make
    # distinct cell pairs collide and silently merge their blocks.
    base = 1 + max((max(ca, cb) for ca, cb in admissible), default=0)
    pairs_lo = spark.createDataFrame(
        [(ca * base + cb, ca) for ca, cb in admissible],
        "pid_lo bigint, ca int",
    )
    pairs_hi = spark.createDataFrame(
        [(ca * base + cb, cb) for ca, cb in admissible],
        "pid_hi bigint, cb int",
    )
    lo = (
        celled.select(
            F.col("vec_id").alias("lo_id"),
            F.col("embedding").alias("lo_emb"),
            F.col("cell").alias("lo_cell"),
        )
        .join(F.broadcast(pairs_lo), F.col("lo_cell") == F.col("ca"))
        .select("pid_lo", "lo_id", "lo_emb")
    )
    hi = (
        celled.select(
            F.col("vec_id").alias("hi_id"),
            F.col("embedding").alias("hi_emb"),
            F.col("cell").alias("hi_cell"),
        )
        .join(F.broadcast(pairs_hi), F.col("hi_cell") == F.col("cb"))
        .select("pid_hi", "hi_id", "hi_emb")
    )
    thr = float(t)
    empty = pd.DataFrame(
        {
            "id_lo": pd.Series(dtype="int64"),
            "id_hi": pd.Series(dtype="int64"),
            "cos_raw": pd.Series(dtype="float64"),
        }
    )

    def score(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        if len(left) == 0 or len(right) == 0:
            return empty
        ida = left["lo_id"].to_numpy()
        idb = right["hi_id"].to_numpy()
        ma = f64_matrix(left["lo_emb"])
        mb = f64_matrix(right["hi_emb"])
        frames = []
        # Row-chunk the left block so task memory is bounded by
        # CHUNK x |c_b| doubles, not |c_a| x |c_b| (100 TB posture;
        # oversized CELLS are bounded separately — see scale_notes).
        chunk = 4096
        for s in range(0, len(ida), chunk):
            idac = ida[s : s + chunk]
            cos = cosine_matrix(ma[s : s + chunk], mb)
            mask = (cos > thr) & (idac[:, None] < idb[None, :])
            li, ri = np.nonzero(mask)
            if len(li):
                frames.append(
                    pd.DataFrame(
                        {
                            "id_lo": idac[li],
                            "id_hi": idb[ri],
                            "cos_raw": cos[li, ri],
                        }
                    )
                )
        return pd.concat(frames, ignore_index=True) if frames else empty

    return (
        lo.groupBy("pid_lo")
        .cogroup(hi.groupBy("pid_hi"))
        .applyInPandas(score, out_schema)
    )


@register(
    "q_llm_editdist",
    oracle="""
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40))
            AS BIGINT) AS dist
FROM documents a
JOIN documents b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE a.doc_id <= 150 AND b.doc_id <= 150
  AND levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 15
""",
    doc="Edit-distance near-dup pairs: Levenshtein over 40-char "
    "prefixes, blocked by language (the standard blocking-key pattern "
    "— candidate pairs only form inside a block), distance <= 15. "
    "Both engines implement textbook Levenshtein, so the oracle is "
    "exact.",
    scale_notes="Edit distance is O(len^2) per pair — NEVER all-pairs "
    "at scale. This declared row blocks on lang (4 values) over a "
    "bounded 150-doc set as the readable baseline; the PRODUCTION "
    "block key is simhash bands — shipped as llm_editdist_banded with "
    "the banding itself inside the exact oracle. The prefix cap bounds "
    "per-pair cost; pairs form via a same-key self-join: one shuffle "
    "on the block key.",
)
def q_llm_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") <= 150)
        .select("doc_id", "lang", F.substring("text", 1, 40).alias("prefix"))
    )
    a = docs.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("prefix").alias("pa"),
    )
    b = docs.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("prefix").alias("pb"),
    )
    dist = F.levenshtein("pa", "pb")
    return (
        a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(dist <= 15)
        .select("id_a", "id_b", dist.cast("bigint").alias("dist"))
    )


@register(
    "llm_editdist_banded",
    oracle="""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id <= 150
), tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM docs
), th AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h
  FROM tok
), bits AS (
  SELECT doc_id, b.b,
         SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS net
  FROM th CROSS JOIN generate_series(0, 59) b(b)
  GROUP BY doc_id, b.b
), sh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN net > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
), bands AS (
  SELECT doc_id, g.g AS band_id, (simhash >> (10 * g.g)) & 1023 AS bv
  FROM sh CROSS JOIN generate_series(0, 5) g(g)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(levenshtein(substr(ta.text, 1, 40), substr(tb.text, 1, 40))
            AS BIGINT) AS dist
FROM cand
JOIN docs ta ON ta.doc_id = id_a
JOIN docs tb ON tb.doc_id = id_b
WHERE levenshtein(substr(ta.text, 1, 40), substr(tb.text, 1, 40)) <= 15
""",
    doc="Edit-distance near-dup pairs with the PRODUCTION block key: "
    "candidates form only between docs sharing at least one of six "
    "10-bit simhash bands (reusing the q_llm_simhash sketch — near-dup "
    "docs differ in few simhash bits, so some band collides), then "
    "exact Levenshtein <= 15 over 40-char prefixes verifies. The whole "
    "banding pipeline (md5 token hashes -> 60-bit simhash -> band "
    "extraction -> collision join) is recomputed verbatim by the DuckDB "
    "oracle, so the candidate generator itself is hash-verified — the "
    "answer to 'don't ship lang as the block key' (q_llm_editdist).",
    scale_notes="Candidate cost is Σ(band-bucket²) like MinHash-LSH, "
    "not all-pairs-within-lang: 10-bit bands give ~1024-way spread per "
    "band even on a single-language corpus. Per-pair verify cost stays "
    "bounded by the 40-char prefix cap. One shuffle on (band_id, "
    "band_val); the simhash itself is a single grouped aggregate.",
)
def llm_editdist_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") <= 150)
        .select("doc_id", "text")
    )
    sh = _simhash(docs)
    bands = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(g).alias("band_id"),
                        F.expr(f"(simhash >> {10 * g}) & 1023").alias("bv"),
                    )
                    for g in range(6)
                ]
            )
        ).alias("bd"),
    ).select("doc_id", F.col("bd.band_id").alias("band_id"), F.col("bd.bv").alias("bv"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    pa = docs.select(
        F.col("doc_id").alias("id_a"), F.substring("text", 1, 40).alias("pa")
    )
    pb = docs.select(
        F.col("doc_id").alias("id_b"), F.substring("text", 1, 40).alias("pb")
    )
    dist = F.levenshtein("pa", "pb")
    return (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .filter(dist <= 15)
        .select("id_a", "id_b", dist.cast("bigint").alias("dist"))
    )


@register(
    "q_llm_dedup_components",
    oracle="""
WITH sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           generate_series(1, len(string_split(text, ' ')) - 2),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
         )) AS shingle
  FROM documents
), card AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), edges AS (
  SELECT id_a, id_b FROM pairs
  JOIN card ca ON ca.doc_id = id_a
  JOIN card cb ON cb.doc_id = id_b
  WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.5
), sym AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION SELECT id_b, id_a FROM edges
), cl AS (
  WITH RECURSIVE reach(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT reach.u, sym.v FROM reach JOIN sym ON reach.v = sym.u
  )
  SELECT u, v FROM reach
)
SELECT u AS doc_id, CAST(LEAST(u, MIN(v)) AS BIGINT) AS component
FROM cl GROUP BY u
""",
    doc="Near-duplicate CLUSTERS, not just pairs: connected components "
    "over the 3-shingle Jaccard >= 0.5 edge graph (each doc is labelled "
    "with the smallest doc_id reachable from it — the canonical "
    "representative a training pipeline keeps). Computed by the same "
    "star_contract kernel as llm_components_starcontract (identical "
    "rows); oracle computes the components with a recursive-CTE "
    "transitive closure.",
    scale_notes="Large-star/small-star contraction (star_contract): "
    "O(log^2 n) rounds of one groupBy(min) + one join each, lineage "
    "truncated per round with a tracked localCheckpoint, and an exact "
    "driver union-find finish once <= 2^17 edges remain. Round count "
    "does not grow with cluster diameter, unlike min-label "
    "propagation.",
)
def q_llm_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return llm_components_starcontract(spark, sf_dir)


@register(
    "llm_cosine_pairs_blocked",
    oracle="""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))
                  AS DOUBLE), 4) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) > 0.45
""",
    doc="Banded-EXACT cosine pair enumeration: identical output to "
    "q_llm_cosine_pairs (same oracle) via the llm_embed_dedup_blocked "
    "machinery — k-means cells plus the triangle-inequality "
    "admissible-cell-pair bound (see that operator's proof), exact "
    "Arrow-vectorized cosine inside admissible pairs only.",
    scale_notes="Same cost model as llm_embed_dedup_blocked: "
    "sum(|c_i|*|c_j|) over admissible cell pairs instead of n^2/2, "
    "block-scored via _banded_qualifying_pairs (no per-pair row ever "
    "materialized), exact by construction. This pair de-weakens the "
    "engine's last all-pairs-only declared query.",
)
def llm_cosine_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = 0.45
    qual = _banded_qualifying_pairs(spark, sf_dir, t)
    return qual.select(
        F.col("id_lo").alias("id_a"),
        F.col("id_hi").alias("id_b"),
        F.round("cos_raw", 4).alias("cos"),
    )


@register(
    "llm_minhash_banded",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           generate_series(1, len(string_split(text, ' ')) - 2),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
         )) AS shingle
  FROM documents
), mh AS (
  SELECT doc_id, g.i,
         MIN(CAST('0x' || substr(md5(g.i || ':' || shingle), 1, 15)
                  AS BIGINT)) AS mh
  FROM sh CROSS JOIN generate_series(0, 11) g(i)
  GROUP BY doc_id, g.i
), bands AS (
  SELECT doc_id, i // 3 AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bkey
  FROM mh GROUP BY doc_id, i // 3
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
), card AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), common AS (
  SELECT cand.id_a, cand.id_b, COUNT(*) AS c
  FROM cand
  JOIN sh a ON a.doc_id = cand.id_a
  JOIN sh b ON b.doc_id = cand.id_b AND b.shingle = a.shingle
  GROUP BY cand.id_a, cand.id_b
)
SELECT common.id_a, common.id_b,
       {ratio_round4_sql('c', 'ca.n + cb.n - c', '//')} AS jaccard
FROM common
JOIN card ca ON ca.doc_id = common.id_a
JOIN card cb ON cb.doc_id = common.id_b
WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5
""",
    doc="MinHash + banded LSH with an EXACT oracle end-to-end: a "
    "portable 12-permutation MinHash signature (perm i's hash of "
    "shingle s = md5(i ':' s) — md5 is identical in every engine, "
    "unlike pyspark.ml's private hash family behind llm_near_dedup), "
    "widened to 12 columns m0..m11 by one groupBy(doc_id) of 12 mins "
    "(minhash_signature), banded 4 x 3 (band_candidates); docs sharing "
    "any band become candidates, then exact Jaccard >= 0.5 "
    "verification by set intersection (overlap_candidates). The "
    "DuckDB oracle recomputes the "
    "whole pipeline (signatures, bands, collisions, verify), so even "
    "the LSH banding itself is hash-checked. Output = the banded "
    "subset of q_llm_ngram_jaccard's pairs that collide in >= 1 band "
    "(P[collide] = 1-(1-J^3)^4: >= 0.95 at J = 0.8).",
    scale_notes="The standard web-scale near-dedup shape: the 12 "
    "hashes are computed per shingle row in one projection and "
    "min-reduced map-side, so the signature shuffles one (doc, 12 "
    "longs) row per doc — no permutation crossJoin, no (doc, i) "
    "re-grouping; the 4 band keys are exploded from that row. The "
    "candidate join cost is Σ(band-bucket²) — bounded by banding, "
    "immune to hot shingles (a boilerplate shingle moves ONE of 12 "
    "minima, not the bucket key). Exact verify touches only "
    "candidates. 4 shuffle Exchanges, no nested-loop join.",
)
def llm_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    shingles = shingles3(spark, sf_dir)
    cand = band_candidates(minhash_signature(shingles))
    return _jaccard_at_least(overlap_candidates(shingles, cand), 0.5)


@register(
    "llm_components_starcontract",
    oracle="""
WITH sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           generate_series(1, len(string_split(text, ' ')) - 2),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
         )) AS shingle
  FROM documents
), card AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), edges AS (
  SELECT id_a, id_b FROM pairs
  JOIN card ca ON ca.doc_id = id_a
  JOIN card cb ON cb.doc_id = id_b
  WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.5
), sym AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION SELECT id_b, id_a FROM edges
), cl AS (
  WITH RECURSIVE reach(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT reach.u, sym.v FROM reach JOIN sym ON reach.v = sym.u
  )
  SELECT u, v FROM reach
)
SELECT u AS doc_id, CAST(LEAST(u, MIN(v)) AS BIGINT) AS component
FROM cl GROUP BY u
""",
    doc="Connected components via alternating large-star / small-star "
    "contraction (the published MapReduce-scale CC algorithm — "
    "Kiveris et al., 'Connected Components in MapReduce and Beyond'): "
    "each round every node re-wires its strictly-larger (large-star) "
    "or not-larger (small-star) neighbors directly to its neighborhood "
    "minimum, halving long chains instead of walking them one hop per "
    "round like min-label propagation. Converges in O(log^2 n) rounds "
    "to a star forest. The star_contract kernel is the package's one "
    "connected-components loop; q_llm_dedup_components returns this "
    "same result under its own name (same oracle).",
    scale_notes="Per round: one groupBy(min) + one join, shuffles carry "
    "(node, candidate-parent) pairs only; lineage truncated per round "
    "with localCheckpoint. Chain diameter no longer bounds round count "
    "— log^2 rounds worst-case vs diameter rounds for propagation; at "
    "100 TB this is the difference between ~8 rounds and ~hundreds on "
    "long-chain graphs. Hybrid finish: a bounded pull of at most "
    "2^17 + 1 edges (limit, no count) decides whether the input is "
    "small enough; later rounds reuse their fixpoint count for the "
    "same test. At <= 2^17 edges the ~2 MB edge list is pulled once "
    "and finished with an exact driver union-find (identical min-id "
    "labels), replacing the tail rounds whose whole-graph shuffles "
    "would each touch data that fits in one task.",
)
def llm_components_starcontract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = llm_jaccard_prefix(spark, sf_dir)
    # canonical undirected edge set as (u < v) pairs
    return star_contract(
        e.select(
            F.least("id_a", "id_b").alias("u"),
            F.greatest("id_a", "id_b").alias("v"),
        ).distinct()
    )


def _union_find_finish(spark: SparkSession, rows: list) -> DataFrame:
    """Exact driver-side tail of star_contract: union-find with
    path-halving over an already-bounded edge list, component id = the
    minimum node id of each set — bit-identical to the distributed
    fixpoint's labels."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent.setdefault(parent[x], parent[x])
            x = parent[x]
        return x

    for r in rows:
        ru, rv = find(r[0]), find(r[1])
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # min node id per root: nodes visited in ascending order, so the
    # first node seen for a root IS the set minimum
    comp: dict[int, int] = {}
    root_min: dict[int, int] = {}
    for x in sorted(parent):
        root = find(x)
        comp[x] = root_min.setdefault(root, x)
    return spark.createDataFrame(
        list(comp.items()), "doc_id bigint, component bigint"
    )


#: Round cap of star_contract: a safety valve, not an output mode
#: (contraction converges in O(log^2 n) rounds).
_STAR_MAX_ROUNDS = 15


def star_contract(
    edges: DataFrame, local_finish_edges: int = 1 << 17
) -> DataFrame:
    """Large-star/small-star contraction over a lazy canonical (u < v)
    edge DataFrame -> (doc_id, component) labels, component = min node
    id.  Kept separate from the registered queries so the algorithm
    itself can be property-tested against a union-find reference on
    arbitrary graphs (tests/test_llm_ops.py).

    Owns every checkpoint it makes: the input is checkpointed once
    (tracked), each round's blocks are released as soon as the next
    round's fixpoint test has consumed them, and the returned frame
    reads only the last round's checkpoint.

    Hybrid finish (the standard trick in the MapReduce-CC literature:
    contract until the problem is small, then solve it in one place):
    distributed rounds run only while the edge count exceeds
    ``local_finish_edges``; below that the remaining edges — a hard
    bound of 2^17 rows x two bigints = ~2 MB — are pulled to the
    driver once and finished with an exact union-find whose output
    (min-id component labels) is identical to the fixpoint's.  The
    input's size is never counted: one ``limit(local_finish_edges +
    1)`` pull either IS the whole edge list or proves it too large.
    Later rounds count their edges for the fixpoint test anyway and
    reuse that count for the cutover.  At 100 TB the local finish
    replaces the last several whole-graph shuffle rounds, and on small
    inputs it replaces ALL rounds.  Pass ``local_finish_edges=0`` to
    force the pure distributed fixpoint (the property tests exercise
    both paths).  A/B at sf0.1 (llm_components_starcontract, 3
    alternating fresh-JVM medians each): 5.40/5.71/5.29 s without the
    local finish vs 4.23/4.33/4.48 s with it."""

    def _sym(e: DataFrame) -> DataFrame:
        return e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def _nbr_min(sym: DataFrame) -> DataFrame:
        return sym.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )

    spark = edges.sparkSession
    edges, edge_ids = tracked_local_checkpoint(edges)
    count: int | None = None  # unknown until the first round counts
    for _ in range(_STAR_MAX_ROUNDS):
        if count is None or count <= local_finish_edges:
            # bounded driver pull (<= local_finish_edges + 1 rows); the
            # last checkpoint is dead once the rows are local
            rows = edges.limit(local_finish_edges + 1).collect()
            if len(rows) <= local_finish_edges:
                release_rdds(spark, edge_ids)
                return _union_find_finish(spark, rows)
        sym = _sym(edges)
        m = _nbr_min(sym)
        # large-star: strictly-larger neighbors point at the minimum
        large = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v").alias("v"))
        )
        edges_l, l_ids = tracked_local_checkpoint(
            large.filter(F.col("u") != F.col("v")).distinct()
        )
        sym = _sym(edges_l)
        m = _nbr_min(sym)
        # small-star: not-larger neighbors AND the center point at the min
        small = (
            sym.join(m, "u")
            .filter(F.col("v") <= F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .union(m.select(F.col("m").alias("a"), F.col("u").alias("b")))
        )
        new_edges, n_ids = tracked_local_checkpoint(
            small.select(
                F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # the half-round intermediate was fully consumed materializing
        # new_edges (tracked_local_checkpoint is eager)
        release_rdds(spark, l_ids)
        # fixpoint test: one count per round, compared with the count
        # carried from the previous round (the first round has none, so
        # it never converges); the exceptAll shuffle only runs in the
        # rare round where the counts already agree
        new_count = new_edges.count()
        converged = (
            new_count == count
            and new_edges.exceptAll(edges).count() == 0
        )
        release_rdds(spark, edge_ids)
        edges, edge_ids, count = new_edges, n_ids, new_count
        if converged:
            break
    else:
        raise RuntimeError(
            "star_contract: no fixpoint within "
            f"{_STAR_MAX_ROUNDS} rounds (expected O(log^2 n))"
        )
    # fixpoint is a star forest: every node's component is the min of
    # its closed neighborhood.  Both output columns cast to bigint so
    # the schema is identical whichever finish ran (the local
    # union-find path hardcodes "doc_id bigint, component bigint" —
    # without the cast a non-bigint edge input would make the output
    # schema depend on which side of the cutover the data landed).
    return (
        _sym(edges)
        .groupBy("u")
        .agg(F.least(F.min("v"), F.col("u")).alias("component"))
        .select(
            F.col("u").cast("bigint").alias("doc_id"),
            F.col("component").cast("bigint").alias("component"),
        )
    )


@register(
    "q_llm_dup_size_hist",
    oracle="""
WITH groups AS (
  SELECT md5(text) AS h, COUNT(*) AS k
  FROM documents GROUP BY md5(text)
)
SELECT CAST(k AS BIGINT) AS cluster_size,
       COUNT(*) AS n_clusters,
       CAST(k * COUNT(*) AS BIGINT) AS n_docs,
       CAST((k - 1) * COUNT(*) AS BIGINT) AS n_removable
FROM groups GROUP BY k
""",
    doc="Duplicate-cluster size histogram (the dedup AUDIT readout "
    "every pipeline reports before deleting anything): exact-content "
    "clusters by md5(text), bucketed by size — how many singletons, "
    "how many k-way duplicate families, how many documents each "
    "tier holds, and how many rows exact dedup would remove "
    "(k-1 per cluster). The summary view over the same equivalence "
    "classes q_llm_exact_dedup enumerates.",
    scale_notes="One 16-byte-key shuffle to cluster sizes, then a "
    "size-histogram re-aggregation of the (distinct-text)-sized "
    "ledger — never touches document bodies after the first hash "
    "projection.",
)
def q_llm_dup_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    groups = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("k")
    )
    return groups.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_clusters")
    ).select(
        F.col("k").cast("bigint").alias("cluster_size"),
        "n_clusters",
        (F.col("k") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
        ((F.col("k") - 1) * F.col("n_clusters"))
        .cast("bigint")
        .alias("n_removable"),
    )


@register(
    "q_llm_dedup_incremental",
    oracle="""
WITH corpus AS (
  SELECT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
), batch AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 1
), tagged AS (
  SELECT b.doc_id, b.h,
         EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)
           AS dup_vs_corpus,
         ROW_NUMBER() OVER (PARTITION BY b.h ORDER BY b.doc_id) > 1
           AS dup_intra
  FROM batch b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_batch,
       CAST(SUM(CASE WHEN dup_vs_corpus THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_vs_corpus,
       CAST(SUM(CASE WHEN NOT dup_vs_corpus AND dup_intra
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_intra,
       CAST(SUM(CASE WHEN NOT dup_vs_corpus AND NOT dup_intra
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_ingested
FROM tagged
""",
    doc="Incremental ingestion dedup — the batch-vs-corpus shape "
    "every continuously-crawled corpus runs (and the document-level "
    "generalization of the reference's keyed idempotent append, "
    "A11): even doc_ids stand in for the existing corpus, odd ones "
    "for the incoming batch. A batch doc is dropped if its content "
    "hash already exists in the corpus (left-semi probe), else if "
    "an earlier batch doc claimed the hash (first-wins window); "
    "the readout accounts every batch doc to exactly one of "
    "dup-vs-corpus / intra-batch dup / ingested.",
    scale_notes="The corpus side reduces to DISTINCT 16-byte "
    "hashes BEFORE the join (never text), and the probe is one "
    "hash-keyed shuffle (or a bloom-filter pre-probe at 100 TB — "
    "q_join_bloom's machinery) — identical physics to the "
    "engine's idempotent_append sink, applied to content hashes "
    "instead of keys.",
)
def q_llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    corpus = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("h"))
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.md5("text").alias("h")
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    tagged = (
        batch.join(corpus, "h", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("in_corpus"), F.lit(False)).alias(
                "dup_vs_corpus"
            ),
            (F.row_number().over(w) > 1).alias("dup_intra"),
        )
    )
    return tagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batch"),
        F.sum(F.when(F.col("dup_vs_corpus"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_vs_corpus"),
        F.sum(
            F.when(~F.col("dup_vs_corpus") & F.col("dup_intra"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_dup_intra"),
        F.sum(
            F.when(~F.col("dup_vs_corpus") & ~F.col("dup_intra"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_ingested"),
    )


@register(
    "q_llm_minhash_eval",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           generate_series(1, len(string_split(text, ' ')) - 2),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
         )) AS shingle
  FROM documents
), card AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), truth AS (
  SELECT id_a, id_b
  FROM pairs
  JOIN card ca ON ca.doc_id = pairs.id_a
  JOIN card cb ON cb.doc_id = pairs.id_b
  WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.5
), mh AS (
  SELECT doc_id, g.i,
         MIN(CAST('0x' || substr(md5(g.i || ':' || shingle), 1, 15)
                  AS BIGINT)) AS mh
  FROM sh CROSS JOIN generate_series(0, 11) g(i)
  GROUP BY doc_id, g.i
), bands AS (
  SELECT doc_id, i // 3 AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bkey
  FROM mh GROUP BY doc_id, i // 3
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
), m AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM truth
          JOIN cand USING (id_a, id_b)) AS tp
)
SELECT n_truth, n_candidates, tp,
       {ratio_round4_sql('tp', 'n_candidates', '//')} AS precision,
       {ratio_round4_sql('tp', 'n_truth', '//')} AS recall
FROM m
""",
    doc="Candidate-set quality evaluation of the banded MinHash "
    "pipeline: the 4x3-banded candidate pairs (llm_minhash_banded's "
    "12-column signature and band generator, pre-verification) "
    "scored against the TRUE "
    "Jaccard>=0.5 pair set (q_llm_ngram_jaccard's inverted-index "
    "ground truth) — precision/recall of the approximate index "
    "itself, computed exactly inside the engine. The theoretical "
    "recall floor at J=0.5 is 1-(1-0.5^3)^4 = 0.414; measured "
    "recall above it confirms the banding constants, measured "
    "precision prices the verification pass that follows.",
    scale_notes="Shares llm_minhash_banded's one-row-per-doc 12-column "
    "signature and band kernel, and q_llm_ngram_jaccard's "
    "Σdf(shingle)^2 truth join (overlap_all_pairs) — the "
    "truth side is the expensive leg and exists ONLY for "
    "evaluation (run on a sample at 100 TB; the metrics are "
    "ratios, not corpus state). Ledger joins on (id_a, id_b) "
    "pairs; 1-row head.",
)
def q_llm_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    shingles = shingles3(spark, sf_dir)
    truth = (
        overlap_all_pairs(shingles)
        .filter(_jaccard() >= 0.5)
        .select("id_a", "id_b")
    )
    cand = band_candidates(minhash_signature(shingles))
    merged = truth.withColumn("t", F.lit(1)).join(
        cand.withColumn("c", F.lit(1)), ["id_a", "id_b"], "full"
    )
    return merged.agg(
        F.sum(F.coalesce(F.col("t"), F.lit(0)))
        .cast("bigint")
        .alias("n_truth"),
        F.sum(F.coalesce(F.col("c"), F.lit(0)))
        .cast("bigint")
        .alias("n_candidates"),
        F.sum(F.coalesce(F.col("t") * F.col("c"), F.lit(0)))
        .cast("bigint")
        .alias("tp"),
    ).select(
        "n_truth",
        "n_candidates",
        "tp",
        # exact integer half-up (rule-8 remedy): recall/precision
        # ratios like 57/800 land exactly on the 4th-decimal half
        # boundary where the engines' float ROUNDs disagree
        F.expr(ratio_round4_sql("tp", "n_candidates", "div")).alias(
            "precision"
        ),
        F.expr(ratio_round4_sql("tp", "n_truth", "div")).alias("recall"),
    )


@register(
    "q_llm_minhash_mae",
    oracle="""
WITH sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           generate_series(1, len(string_split(text, ' ')) - 2),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
         )) AS shingle
  FROM documents
), card AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), mh AS (
  SELECT doc_id, g.i,
         MIN(CAST('0x' || substr(md5(g.i || ':' || shingle), 1, 15)
                  AS BIGINT)) AS mh
  FROM sh CROSS JOIN generate_series(0, 11) g(i)
  GROUP BY doc_id, g.i
), bands AS (
  SELECT doc_id, i // 3 AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bkey
  FROM mh GROUP BY doc_id, i // 3
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
), est AS (
  SELECT cand.id_a, cand.id_b,
         CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS DOUBLE)
           / 12 AS est_j
  FROM cand
  JOIN mh ma ON ma.doc_id = cand.id_a
  JOIN mh mb ON mb.doc_id = cand.id_b AND mb.i = ma.i
  GROUP BY cand.id_a, cand.id_b
), exact AS (
  SELECT cand.id_a, cand.id_b,
         CAST(COUNT(*) AS DOUBLE)
           / (ca.n + cb.n - COUNT(*)) AS true_j
  FROM cand
  JOIN sh a ON a.doc_id = cand.id_a
  JOIN sh b ON b.doc_id = cand.id_b AND b.shingle = a.shingle
  JOIN card ca ON ca.doc_id = cand.id_a
  JOIN card cb ON cb.doc_id = cand.id_b
  GROUP BY cand.id_a, cand.id_b, ca.n, cb.n
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(CAST(ROUND(ABS(est.est_j - exact.true_j), 6)
                           AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4)
         AS mae,
       ROUND(CAST(SUM(CAST(ROUND(est.est_j - exact.true_j, 6)
                           AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4)
         + 0.0 AS bias,
       CAST(SUM(CASE WHEN ABS(est.est_j - exact.true_j) <= 0.25
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_within_025
FROM est JOIN exact USING (id_a, id_b)
""",
    doc="MinHash ESTIMATOR accuracy (the per-pair companion of "
    "q_llm_minhash_eval's set-level precision/recall): for every "
    "banded candidate pair, the signature-agreement Jaccard "
    "estimate (matching columns of the widened m0..m11 signature "
    "/ 12) against the exact "
    "Jaccard — MAE, signed bias, and the share within the "
    "+-0.25 band that 12 permutations guarantee with ~87% "
    "probability per pair (sd = sqrt(J(1-J)/12) <= 0.145). "
    "Per-pair error terms are ROUND-6 DECIMAL-summed.",
    scale_notes="The estimate is 12 column equalities on "
    "signature ⋈ candidates ⋈ signature, both sides the one-row-per-"
    "doc 12-column signature — no (doc, i) re-join; the exact-J leg "
    "is llm_minhash_banded's set-intersection verify over candidate "
    "pairs only (banding bounds it). "
    "Eval-only at 100 TB (sample), like every QA row. 1-row "
    "head.",
)
def q_llm_minhash_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    shingles = shingles3(spark, sf_dir)
    sig = minhash_signature(shingles)
    cand = band_candidates(sig)
    sig_a = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(N_PERM)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(N_PERM)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_PERM)
    )
    pairs = (
        overlap_candidates(shingles, cand)
        .join(sig_a, "id_a")
        .join(sig_b, "id_b")
    )
    err = agree.cast("double") / N_PERM - _jaccard()
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(F.round(F.abs(err), 6).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mae"),
        # + 0.0 folds IEEE negative zero to +0.0: a tiny negative
        # mean rounds to -0.0 in one engine and 0.0 in the other
        # (caught by the offset-41414141 fresh-seed battery), and
        # the driver canonicalizer stringifies the two differently
        (
            F.round(
                F.sum(F.round(err, 6).cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            )
            + F.lit(0.0)
        ).alias("bias"),
        F.sum(F.when(F.abs(err) <= 0.25, 1).otherwise(0))
        .cast("bigint")
        .alias("n_within_025"),
    )


@register(
    "q_llm_dedup_curve",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           generate_series(1, len(string_split(text, ' ')) - 2),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
         )) AS shingle
  FROM documents
), card AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), jac AS (
  SELECT id_a, id_b,
         CAST(common AS DOUBLE) / (ca.n + cb.n - common) AS j
  FROM pairs
  JOIN card ca ON ca.doc_id = id_a
  JOIN card cb ON cb.doc_id = id_b
), th AS (
  SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS t
), q AS (
  SELECT th.t, jac.id_a, jac.id_b
  FROM jac CROSS JOIN th WHERE jac.j >= th.t
), nd AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents
), pairsb AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM q GROUP BY t
), docsb AS (
  SELECT t, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs
  FROM (SELECT t, id_a AS d FROM q
        UNION ALL SELECT t, id_b AS d FROM q) u
  GROUP BY t
)
SELECT CAST(ROUND(pairsb.t, 1) AS DOUBLE) AS threshold, pairsb.n_pairs, docsb.n_docs,
       {signed_ratio_round_sql('docsb.n_docs', 'nd.total', 4, '//')} AS doc_frac
FROM pairsb JOIN docsb USING (t) CROSS JOIN nd ORDER BY threshold
""",
    doc="Near-dedup threshold operating curve: for Jaccard cutoffs "
    "0.1..0.9, the number of shingle-index candidate pairs at or "
    "above the cutoff, the distinct documents they touch, and the "
    "affected-corpus fraction — the tuning curve a practitioner "
    "reads before committing a dedup threshold (too low deletes the "
    "corpus, too high keeps the dups; q_llm_ngram_jaccard is one "
    "point on this curve, 0.5). Exact rational Jaccard compared "
    "against shared double literals, so band membership is "
    "engine-identical. On this fixture the curve is flat — every "
    "candidate pair is a J~1 twin — which is precisely the "
    "diagnosis the curve exists to deliver: the corpus's "
    "duplication is bimodal, so any threshold removes the same "
    "9.4% of documents.",
    scale_notes="One extra 9-row threshold crossJoin and a per-band "
    "distinct over the EXISTING inverted-index pair ledger — the "
    "curve costs one GROUP BY more than the single-threshold query. "
    "At 100 TB the pair ledger comes from MinHash banding "
    "(llm_minhash_banded) and the same curve reads off estimated "
    "Jaccards.",
)
def q_llm_dedup_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    jac = overlap_all_pairs(shingles3(spark, sf_dir)).select(
        "id_a", "id_b", _jaccard().alias("j")
    )
    th = spark.range(1, 10).select((F.col("id") / 10.0).alias("t"))
    q = jac.crossJoin(F.broadcast(th)).filter(F.col("j") >= F.col("t"))
    nd = read_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("bigint").alias("total")
    )
    n_pairs = q.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    docs = q.select("t", F.col("id_a").alias("d")).unionByName(
        q.select("t", F.col("id_b").alias("d"))
    )
    n_docs = docs.groupBy("t").agg(
        F.countDistinct("d").cast("bigint").alias("n_docs")
    )
    return (
        n_pairs.join(n_docs, "t")
        .crossJoin(F.broadcast(nd))
        .select(
            F.round(F.col("t"), 1).alias("threshold"),
            "n_pairs",
            "n_docs",
            # exact integer half-up (rule-8 batch-2 sweep)
            F.expr(
                signed_ratio_round_sql("n_docs", "total", 4, "div")
            ).alias("doc_frac"),
        )
        .orderBy("threshold")
    )
