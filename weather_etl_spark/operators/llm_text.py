"""Text-analysis operators for LLM training-data pipelines
(SURVEY.md §2 B.9 + north-star mandate): token statistics, TF-IDF,
corpus profiling, language ID, quality scoring, tokenizer-style counts.

All pure built-in-function pipelines (JVM-side, codegen) — no Python
in the hot path.

Scale notes (100 TB): every query is explode -> partial-agg -> shuffle
of DISTINCT tokens (vocabulary-sized, not corpus-sized).  Per-doc
metrics are narrow projections; corpus joins (df for TF-IDF) broadcast
the vocabulary side.
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

#: Deterministic marker-token sets for the language-ID heuristic.
_LANG_MARKERS = {
    "en": ("the", "a", "value"),
    "de": ("der", "die", "und"),
    "es": ("el", "los", "una"),
    "fr": ("le", "les", "une"),
}

_STOPWORDS = ("the", "a", "of")


@register(
    "q_llm_tokenstats",
    oracle="""
SELECT lang, token, COUNT(*) AS n
FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
      FROM documents) t
GROUP BY lang, token
ORDER BY n DESC, lang ASC, token ASC
LIMIT 25
""",
    doc="Tokenize + token frequency per language, top 25.",
)
def q_llm_tokenstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("lang").asc(), F.col("token").asc())
        .limit(25)
    )


@register(
    "q_llm_tfidf",
    oracle="""
WITH tok AS (
  SELECT lang, doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
), tf AS (
  SELECT lang, token, COUNT(*) AS tf FROM tok GROUP BY lang, token
), df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
), n AS (
  SELECT COUNT(*) AS n FROM documents
), scored AS (
  SELECT lang, tf.token,
         ROUND(tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS score
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
)
SELECT lang, token, score
FROM (SELECT lang, token, score,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY score DESC, token ASC) AS rn
      FROM scored) t
WHERE rn <= 5
""",
    doc="TF-IDF: tf x ln(N/df), top-5 terms per language (tie-break "
    "token).",
    scale_notes="df is vocabulary-sized (grows with the corpus), so its "
    "join carries NO broadcast hint — AQE/CBO broadcast it while small "
    "and fall back to a shuffle join at scale; only the 1-row N count "
    "is hint-broadcast. Big shuffle is the (lang, token) partial count.",
)
def q_llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    tf = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    # No broadcast hint on `df`: it is vocabulary-sized (grows with the
    # corpus), so the join strategy is left to CBO/AQE — broadcast at
    # test SF, shuffle join once the vocab outgrows the threshold.  The
    # 1-row n_docs crossJoin is constant-size and safe to hint.
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "lang",
            "token",
            F.round(
                F.col("tf")
                * F.log(F.col("n").cast("double") / F.col("df")),
                4,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "token", "score")
    )


@register(
    "q_llm_docprofile",
    oracle=f"""
SELECT lang, source, COUNT(*) AS n_docs,
       {signed_ratio_round_sql('CAST(SUM(n_chars) AS BIGINT)',
                               'COUNT(*)', 4, '//')} AS avg_chars,
       MAX(n_chars) AS max_chars
FROM documents GROUP BY lang, source
""",
    doc="Corpus profile per (lang, source): doc counts, exact-integer "
    "average length, max length.",
)
def q_llm_docprofile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # exact integer half-up (rule-8 batch-2 sweep)
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            F.expr(
                signed_ratio_round_sql("sum_chars", "n_docs", 4, "div")
            ).alias("avg_chars"),
            "max_chars",
        )
    )


def _marker_score(toks, markers):
    return F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in markers])))


@register(
    "q_llm_langid",
    oracle=f"""
WITH scored AS (
  SELECT lang,
         len(list_intersect(toks, {list(_LANG_MARKERS['en'])})) AS s_en,
         len(list_intersect(toks, {list(_LANG_MARKERS['de'])})) AS s_de,
         len(list_intersect(toks, {list(_LANG_MARKERS['es'])})) AS s_es,
         len(list_intersect(toks, {list(_LANG_MARKERS['fr'])})) AS s_fr
  FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents) t
), pred AS (
  SELECT lang,
         CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
              WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
              WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
              WHEN s_es >= s_fr THEN 'es'
              ELSE 'fr' END AS predicted
  FROM scored
)
SELECT lang, predicted, COUNT(*) AS n
FROM pred GROUP BY lang, predicted
""",
    doc="Language-ID heuristic: marker-token overlap scoring with a "
    "deterministic argmax, reported as a (actual, predicted) confusion "
    "matrix. (N-gram scoring mechanism; markers are fixture-scale.)",
)
def q_llm_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "lang", F.split("text", " ").alias("toks")
    )
    scored = docs.select(
        "lang",
        *[
            _marker_score(F.col("toks"), markers).alias(f"s_{lang}")
            for lang, markers in _LANG_MARKERS.items()
        ],
    )
    predicted = (
        F.when(
            (F.col("s_en") == 0)
            & (F.col("s_de") == 0)
            & (F.col("s_es") == 0)
            & (F.col("s_fr") == 0),
            "und",
        )
        .when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when(
            (F.col("s_de") >= F.col("s_es")) & (F.col("s_de") >= F.col("s_fr")),
            "de",
        )
        .when(F.col("s_es") >= F.col("s_fr"), "es")
        .otherwise("fr")
    )
    return (
        scored.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_llm_quality",
    oracle=f"""
WITH m AS (
  SELECT lang,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_intersect(string_split(text, ' '),
                            {list(_STOPWORDS)})) AS n_stop_kinds,
         n_chars
  FROM documents
), q AS (
  SELECT lang,
         CASE WHEN n_tokens < 20 THEN 'short'
              WHEN n_stop_kinds = 0 THEN 'no_stopwords'
              WHEN n_chars > 400 THEN 'long'
              ELSE 'ok' END AS bucket,
         {ratio_round4_sql('n_chars - (n_tokens - 1)', 'n_tokens', '//')}
           AS avg_tok_len
  FROM m
)
SELECT lang, bucket, COUNT(*) AS n,
       {decimal_mean_round4_sql(
           'CAST(SUM(CAST(avg_tok_len AS DECIMAL(18,4))) * 10000 AS BIGINT)',
           'COUNT(*)', 4, '//')} AS mean_tok_len
FROM q GROUP BY lang, bucket
""",
    doc="Quality scoring: token counts, stopword presence, length "
    "buckets, average token length — per (lang, bucket) profile.",
)
def q_llm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_stop_kinds = F.size(
        F.array_intersect(toks, F.array(*[F.lit(s) for s in _STOPWORDS]))
    )
    m = docs.select(
        "lang",
        n_tokens.alias("n_tokens"),
        n_stop_kinds.alias("n_stop_kinds"),
        "n_chars",
    )
    bucket = (
        F.when(F.col("n_tokens") < 20, "short")
        .when(F.col("n_stop_kinds") == 0, "no_stopwords")
        .when(F.col("n_chars") > 400, "long")
        .otherwise("ok")
    )
    # exact integer half-up (rule-8 batch-2 sweep)
    avg_tok_len = F.expr(
        ratio_round4_sql("n_chars - (n_tokens - 1)", "n_tokens", "div")
    )
    q = m.select("lang", bucket.alias("bucket"), avg_tok_len.alias("avg_tok_len"))
    return (
        q.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.col("avg_tok_len").cast("decimal(18,4)")) * F.lit(10000))
            .cast("bigint")
            .alias("s4"),
        )
        .select(
            "lang",
            "bucket",
            "n",
            F.expr(decimal_mean_round4_sql("s4", "n", 4, "div")).alias(
                "mean_tok_len"
            ),
        )
    )


@register(
    "q_llm_tokencount",
    oracle="""
SELECT lang,
       CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+')))
            AS BIGINT) AS n_bpe_ish,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_ws
FROM documents GROUP BY lang
""",
    doc="Token counting two ways: whitespace split vs a BPE-ish "
    "alpha/numeric-run regex — the standard pre-tokenizer estimate.",
)
def q_llm_tokencount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.sum(
            F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), 0))
        ).alias("n_bpe_ish"),
        F.sum(F.size(F.split("text", " "))).alias("n_ws"),
    )


@register(
    "q_llm_split",
    oracle="""
SELECT doc_id,
       CAST(bucket AS BIGINT) AS bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           % 100 AS bucket
  FROM documents
) t
""",
    doc="Deterministic train/val/test split (80/10/10): md5-derived "
    "hash bucket per doc_id — stable across engines, runs, and "
    "cluster sizes, so the same document always lands in the same "
    "split (the property random sampling lacks). The md5-to-bigint "
    "trick is the same engine-portable hash used by q_llm_simhash.",
    scale_notes="Embarrassingly parallel projection — zero shuffle, "
    "codegen'd. Splits stay valid under incremental ingestion because "
    "assignment depends only on the key, never on corpus statistics.",
)
def q_llm_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    bucket = (
        md5_prefix_int("doc_id", 15) % 100
    )
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


def _winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fps) for docs of >= 11 chars: the distinct winnowing
    fingerprints — md5 hash of every 8-char gram, min of each sliding
    window of 4 hashes.  Shared by q_llm_winnow and q_llm_winnow_pairs."""
    hs = F.transform(
        F.sequence(F.lit(1), F.length("text") - 7),
        lambda i: md5_prefix_int(F.substring("text", i, 8), 15),
    )
    window_min = F.transform(
        F.sequence(F.lit(1), F.size("hs") - 3),
        lambda j: F.array_min(F.slice("hs", j, 4)),
    )
    return (
        read_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 11)
        .select("doc_id", hs.alias("hs"))
        .select("doc_id", F.array_distinct(window_min).alias("fps"))
    )


@register(
    "q_llm_winnow",
    oracle="""
WITH h AS (
  SELECT doc_id,
         list_transform(
           range(1, length(text) - 8 + 2),
           i -> CAST('0x' || substr(md5(substr(text, i, 8)), 1, 15)
                     AS BIGINT)) AS hs
  FROM documents WHERE length(text) >= 11
), w AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(hs) - 4 + 2),
           j -> list_min(hs[j:j+3]))) AS fps
  FROM h
)
SELECT doc_id,
       CAST(len(fps) AS BIGINT) AS n_fp,
       CAST(list_min(fps) AS BIGINT) AS min_fp,
       CAST(list_max(fps) AS BIGINT) AS max_fp
FROM w
""",
    doc="Winnowing document fingerprint (rolling-hash k-gram + "
    "min-sampling): hash every 8-char gram (md5-derived, engine-"
    "portable), take the min hash of each sliding window of 4, dedup — "
    "the classic local fingerprinting scheme whose guarantee is that "
    "any shared substring of length >= k+w-1 = 11 yields a shared "
    "fingerprint. Emits per-doc fingerprint-set cardinality and "
    "min/max fingerprint.",
    scale_notes="Pure per-row higher-order-function pipeline — zero "
    "shuffle, zero Python; cost is O(len) hashes per doc computed in "
    "codegen. The fingerprint SET (exploded) is what a near-dup join "
    "would bucket on — same inverted-index shape as q_llm_ngram_jaccard "
    "with far fewer keys per doc.",
)
def q_llm_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = _winnow_fingerprints(spark, sf_dir)
    return fps.select(
        "doc_id",
        F.size("fps").cast("bigint").alias("n_fp"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
    )


@register(
    "q_llm_winnow_pairs",
    oracle="""
WITH h AS (
  SELECT doc_id,
         list_transform(
           range(1, length(text) - 8 + 2),
           i -> CAST('0x' || substr(md5(substr(text, i, 8)), 1, 15)
                     AS BIGINT)) AS hs
  FROM documents WHERE length(text) >= 11
), w AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(hs) - 4 + 2),
           j -> list_min(hs[j:j+3])))) AS fp
  FROM h
), rare AS (
  SELECT fp FROM w GROUP BY fp HAVING COUNT(*) <= 10
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       COUNT(*) AS n_shared_fp
FROM w a JOIN rare USING (fp) JOIN w b
  ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 3
""",
    doc="Winnowing fingerprints operationalized into the dedup join: "
    "documents sharing >= 3 RARE fingerprints (document frequency <= "
    "10) are exact-substring-overlap candidates (the winnowing "
    "guarantee: any shared run >= 11 chars shares a fingerprint) — the "
    "shared-substring dedup pipeline shape without suffix arrays. The "
    "df cap drops boilerplate fingerprints the same way stopword "
    "removal drops hot tokens; without it the shared-vocabulary corpus "
    "degenerates toward all-pairs (measured: 98k of 125k possible "
    "pairs at sf0.01).",
    scale_notes="Inverted-index join on fingerprint values: cost is "
    "sum(df(fp)^2) over RARE fps only — the df cap bounds each "
    "fingerprint's contribution at cap^2, making the join cost linear "
    "in corpus size for fixed cap. Winnowing emits ~len/w fingerprints "
    "per doc vs ~len shingles, so the index is w times smaller for the "
    "same guarantee. r13: the (doc_id, fp) index is checkpointed once "
    "— it feeds the df aggregate and both self-join sides, and "
    "re-planning it per consumer re-ran the per-position md5 pass 8x "
    "(one scan per plan subtree); at 100 TB the materialized index is "
    "the winnowing paper's build-once artifact.",
)
def q_llm_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explode_outer emits the same rows (fps is never empty for a
    # >= 11-char text) but, unlike explode, makes Spark infer no
    # size(fps) > 0 filter: pushed below the projections, that filter
    # re-hashes the whole text once per window (sf0.01, 4 cores: 1.8 s
    # -> 128 s)
    fps = _winnow_fingerprints(spark, sf_dir).select(
        "doc_id", F.explode_outer("fps").alias("fp")
    )
    # r13 (guide §5 lineage cut, the jaccard_prefix ruling): the
    # fingerprint table feeds the df aggregate AND both sides of the
    # pair self-join, and Catalyst re-plans the whole
    # scan+md5-transform+explode subtree under each consumer — the
    # before-plan shows FOUR documents.parquet scans, each re-hashing
    # every character position of the corpus.  Checkpoint the
    # (doc_id, fp) table once: the per-position md5 work runs exactly
    # once per query and every downstream pass reads 16-byte rows.  At
    # 100 TB this is the fingerprint-index materialization the
    # winnowing paper assumes (build the index once, then join on it).
    fps = fps.localCheckpoint()
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 10)
        .select("fp")
    )
    fps = fps.join(rare, ["fp"])
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, ["fp"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= 3)
    )


@register(
    "q_llm_repetition",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), big AS (
  SELECT doc_id,
         list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i+1]) AS bigrams
  FROM tok
), counts AS (
  SELECT doc_id,
         len(bigrams) AS n_bigrams,
         len(list_distinct(bigrams)) AS n_uniq
  FROM big
)
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       {ratio_round4_sql('n_bigrams - n_uniq', 'n_bigrams', '//')} AS dup_bigram_frac
FROM counts WHERE n_bigrams > 0
""",
    doc="Repetition quality signal: the duplicated-bigram fraction per "
    "document (1 - distinct/total 2-grams) — the standard published "
    "pretraining repetition filter (high values flag boilerplate and "
    "degenerate repeated text).",
    scale_notes="Pure per-row higher-order functions, zero shuffle, no "
    "Python; the n-gram order and threshold are parameters in a real "
    "deployment (published filters use 2- through 4-gram fractions).",
)
def q_llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> concat(toks[i-1], ' ', toks[i]))"
    )
    d = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id", bigrams.alias("bigrams")
    )
    return (
        d.filter(F.size("bigrams") > 0)
        .select(
            "doc_id",
            F.size("bigrams").cast("bigint").alias("n_bigrams"),
            F.size(F.array_distinct("bigrams"))
            .cast("bigint")
            .alias("n_uniq"),
        )
        # exact integer half-up (rule-8 batch-2 sweep)
        .select(
            "doc_id",
            "n_bigrams",
            F.expr(
                ratio_round4_sql("n_bigrams - n_uniq", "n_bigrams", "div")
            ).alias("dup_bigram_frac"),
        )
    )


@register(
    "q_llm_c4_filter",
    oracle=f"""
WITH m AS (
  SELECT doc_id, lang, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_intersect(string_split(text, ' '),
                            {list(_STOPWORDS)})) AS n_stop_kinds
  FROM documents
)
SELECT doc_id,
       CASE WHEN n_tokens < 15 THEN 'too_short'
            WHEN n_tokens > 5000 THEN 'too_long'
            WHEN n_stop_kinds = 0 THEN 'no_stopwords'
            WHEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens
                 NOT BETWEEN 2.0 AND 12.0 THEN 'token_len'
            ELSE 'keep' END AS verdict,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM m
""",
    doc="C4-style corpus gate (the published C4 / Gopher-rules shape): "
    "every document is assigned keep or its FIRST failing rule — "
    "token-count bounds, stopword presence, mean-token-length band — "
    "so the output is both the filtered corpus (verdict = 'keep') and "
    "the rejection audit (why each dropped doc dropped), which "
    "training pipelines log for corpus iteration.",
    scale_notes="Narrow per-doc projection: no shuffle, no join, all "
    "rule arithmetic on already-materialized columns inside one "
    "codegen stage. Rules short-circuit in a single CASE; adding rules "
    "extends the projection, not the plan depth.",
)
def q_llm_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_stop_kinds = F.size(
        F.array_intersect(toks, F.array(*[F.lit(s) for s in _STOPWORDS]))
    )
    m = docs.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        n_stop_kinds.alias("n_stop_kinds"),
    )
    mean_tok_len = (
        (F.col("n_chars") - (F.col("n_tokens") - 1)).cast("double")
        / F.col("n_tokens")
    )
    verdict = (
        F.when(F.col("n_tokens") < 15, "too_short")
        .when(F.col("n_tokens") > 5000, "too_long")
        .when(F.col("n_stop_kinds") == 0, "no_stopwords")
        .when(~mean_tok_len.between(2.0, 12.0), "token_len")
        .otherwise("keep")
    )
    return m.select(
        "doc_id",
        verdict.alias("verdict"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    )


@register(
    "q_llm_corpus_stats",
    oracle=f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       COUNT(DISTINCT lang) AS n_langs,
       COUNT(*) - COUNT(DISTINCT text) AS n_exact_dups,
       {signed_ratio_round_sql('COUNT(*) - COUNT(DISTINCT text)',
                               'COUNT(*)', 4, '//')} AS dup_rate
FROM documents
GROUP BY source
""",
    doc="Per-source corpus health report: volume (docs, chars), "
    "language spread, and the within-source exact-duplicate rate — "
    "the first dashboard a data-curation team builds over a crawl, "
    "and the signal that decides which sources get heavier dedup.",
    scale_notes="One aggregate keyed by low-cardinality source; the "
    "two COUNT(DISTINCT)s expand to the standard expand-partial-merge "
    "plan. At 100 TB swap COUNT(DISTINCT text) for "
    "approx_count_distinct over a text hash (the q_agg_approx_cd "
    "pattern) — the exact form here is what the oracle can verify.",
)
def q_llm_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    return docs.groupBy("source").agg(
        n.alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        (n - F.countDistinct("text")).alias("n_exact_dups"),
    ).select(
        "source",
        "n_docs",
        "total_chars",
        "n_langs",
        "n_exact_dups",
        # exact integer half-up (rule-8 batch-2 sweep)
        F.expr(
            signed_ratio_round_sql("n_exact_dups", "n_docs", 4, "div")
        ).alias("dup_rate"),
    )


@register(
    "q_llm_length_hist",
    oracle=f"""
WITH t AS (
  SELECT (len(string_split(text, ' ')) // 10) * 10 AS bucket_lo
  FROM documents
)
, agg AS (
  SELECT CAST(bucket_lo AS BIGINT) AS bucket_lo,
         COUNT(*) AS n_docs,
         SUM(COUNT(*)) OVER () AS total
  FROM t GROUP BY bucket_lo
)
SELECT bucket_lo, n_docs,
       {signed_ratio_round_sql('n_docs', 'CAST(total AS BIGINT)', 4, '//')} AS share
FROM agg
""",
    doc="Token-length histogram (width-10 buckets) with each bucket's "
    "corpus share: the length distribution every pretraining pipeline "
    "inspects before choosing sequence length / packing strategy.",
    scale_notes="Per-doc narrow projection then an aggregate on ~a few "
    "hundred bucket keys; the share normalization is a window over the "
    "already-tiny aggregate output, not over the corpus.",
)
def q_llm_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    bucket = ((F.size(F.split("text", " ")) / 10).cast("bigint") * 10).alias(
        "bucket_lo"
    )
    agg = docs.select(bucket).groupBy("bucket_lo").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy()
    # exact integer half-up (rule-8 batch-2 sweep)
    return (
        agg.select(
            F.col("bucket_lo").cast("bigint").alias("bucket_lo"),
            "n_docs",
            F.sum("n_docs").over(w).cast("bigint").alias("total"),
        )
        .select(
            "bucket_lo",
            "n_docs",
            F.expr(
                signed_ratio_round_sql("n_docs", "total", 4, "div")
            ).alias("share"),
        )
    )


@register(
    "q_llm_pack",
    oracle="""
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
  FROM t
)
SELECT source, CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc
FROM c GROUP BY source, pack_id
""",
    doc="Sequence packing (the GPT-style concat-then-chunk pretraining "
    "step): docs stream in deterministic order (doc_id) within each "
    "source, the running token count assigns each doc to the 512-token "
    "pack its first token falls in, and the output is one row per pack "
    "with its doc count / token sum / first doc. Deterministic and "
    "engine-independent, unlike greedy best-fit bin packing (whose "
    "result depends on iteration order).",
    scale_notes="One running-sum window + one aggregate, both keyed on "
    "source — a single shuffle. Pack assignment is a pure projection "
    "of the cumsum; no sequential driver loop, no state. With skewed "
    "sources, sub-partition by (source, doc_id range) first — the "
    "cumsum offset per range is a tiny broadcast join.",
)
def q_llm_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = docs.withColumn("cum", F.sum("n_tokens").over(w))
    pack_id = F.floor((F.col("cum") - F.col("n_tokens")) / 512).cast("bigint")
    return (
        c.select("source", pack_id.alias("pack_id"), "n_tokens", "doc_id")
        .groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@register(
    "q_llm_perplexity",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents WHERE len(string_split(text, ' ')) >= 2
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS bigram
  FROM toks
), c2 AS (
  SELECT bigram, COUNT(*) AS n2 FROM bg GROUP BY bigram
), c1 AS (
  SELECT split_part(bigram, ' ', 1) AS w1, COUNT(*) AS n1
  FROM bg GROUP BY w1
), nll AS (
  SELECT bg.doc_id,
         CAST(ROUND(-ln(CAST(n2 AS DOUBLE) / n1), 6) AS DECIMAL(18,6))
           AS nll
  FROM bg
  JOIN c2 USING (bigram)
  JOIN c1 ON split_part(bg.bigram, ' ', 1) = c1.w1
)
, scored AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(nll) * 1000000 AS BIGINT) AS s_micro
  FROM nll GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       {decimal_mean_round4_sql('s_micro', 'n_bigrams', 6, '//')} AS avg_nll
FROM scored
""",
    doc="Perplexity-proxy quality scoring (the published LM-based "
    "pretraining filter, here with the corpus as its own bigram LM): "
    "P(w2|w1) = c(w1 w2) / c(w1 ·) over all corpus bigrams, each "
    "document scored by the mean negative log-likelihood of its "
    "bigrams — high avg_nll = surprising/low-quality text, the "
    "ranking a perplexity filter thresholds on. Per-bigram NLL is "
    "rounded to 6 decimals and summed as DECIMAL so the per-doc mean "
    "is independent of partition/accumulation order (§7.4 exact-avg "
    "discipline applied to a transcendental).",
    scale_notes="Two vocabulary-sized counts (bigram, prefix) joined "
    "back to the corpus bigram stream — the stream shuffles once on "
    "the bigram key; the count sides carry NO broadcast hints, so "
    "AQE broadcasts them while they fit under the threshold and "
    "falls back to shuffle joins at corpus scale. No driver state; "
    "the LM 'model' IS the count table.",
)
def q_llm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1)))"
            )
        ).alias("bigram"),
    )
    # r12 (guide §2.3 aggregate-before-shuffle + §5 lineage cut): the
    # bigram count table feeds two consumers (the NLL join build side
    # and, below, the unigram derivation), and Catalyst re-plans the
    # whole scan+explode+agg under each (the join's pushed isnotnull
    # defeats ReuseExchange), so materialize the VOCABULARY-sized table
    # once.  At 100 TB this is the LM itself — checkpointing it is the
    # natural artifact boundary.
    c2 = bg.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("n2")
    ).localCheckpoint()
    # n1(w1) = Σ n2 over the bigrams starting with w1 — EXACTLY the old
    # full-corpus recount, derived from c2 instead of a second
    # scan+explode of every document (profiled at sf0.1: corpus passes
    # 3 -> 2, the dropped pass was ~0.65 s of the 2.0 s executor
    # total; at 100 TB it is a full corpus pass).
    c1 = (
        c2.select(
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"),
            "n2",
        )
        .groupBy("w1")
        .agg(F.sum("n2").alias("n1"))
    )
    # c2/c1 are bigram-/unigram-vocabulary-sized and grow with the
    # corpus: NO broadcast hints (a hint never degrades — at 100 TB it
    # would OOM the driver).  AQE broadcasts them while they fit under
    # autoBroadcastJoinThreshold and shuffle-joins beyond.
    nll = (
        bg.join(c2, "bigram")
        .withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .join(c1, "w1")
        .select(
            "doc_id",
            F.round(-F.log(F.col("n2").cast("double") / F.col("n1")), 6)
            .cast("decimal(18,6)")
            .alias("nll"),
        )
    )
    # avg_nll via EXACT integer half-up on micro-units (rule-8 remedy,
    # the committed q_llm_ppl_holdout formula): the decimal NLL sum
    # over the bigram count can land the rational mean exactly on a
    # 4th-decimal half boundary, where the engines' float ROUNDs
    # break the tie in opposite directions.
    return (
        nll.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum("nll") * F.lit(1000000))
            .cast("bigint")
            .alias("s_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr(
                decimal_mean_round4_sql("s_micro", "n_bigrams", 6, "div")
            ).alias("avg_nll"),
        )
    )


@register(
    "q_llm_ppl_bucket",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents WHERE len(string_split(text, ' ')) >= 2
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS bigram
  FROM toks
), c2 AS (
  SELECT bigram, COUNT(*) AS n2 FROM bg GROUP BY bigram
), c1 AS (
  SELECT split_part(bigram, ' ', 1) AS w1, COUNT(*) AS n1
  FROM bg GROUP BY w1
), nll AS (
  SELECT bg.doc_id,
         CAST(ROUND(-ln(CAST(n2 AS DOUBLE) / n1), 6) AS DECIMAL(18,6))
           AS nll
  FROM bg
  JOIN c2 USING (bigram)
  JOIN c1 ON split_part(bg.bigram, ' ', 1) = c1.w1
), ppl AS (
  SELECT doc_id,
         {decimal_mean_round4_sql(
             'CAST(SUM(nll) * 1000000 AS BIGINT)', 'COUNT(*)', 6, '//')}
           AS avg_nll
  FROM nll GROUP BY doc_id
), b AS (
  SELECT d.lang, p.avg_nll,
         NTILE(3) OVER (PARTITION BY d.lang
                        ORDER BY p.avg_nll, p.doc_id) AS b3
  FROM ppl p JOIN documents d USING (doc_id)
)
SELECT lang,
       CASE b3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
               ELSE 'tail' END AS bucket,
       COUNT(*) AS n_docs,
       -- exact integer half-up rounding of the bucket mean: avg_nll is
       -- a 4-decimal value, so sum its 1e4-scaled integers and round
       -- the rational sum4/n with (2*sum4 + n) // (2*n).  ROUND(double)
       -- here would be engine-divergent: DuckDB computes x*10^4 in
       -- double, which can land exactly on .5 (measured: mean
       -- 20.5173/6 -> 3.4196 here vs 3.4195 in Spark's correctly-
       -- rounded ROUND) — the r7 adversarial corpus hit it.
       CAST((2 * SUM(CAST(ROUND(avg_nll * 10000) AS BIGINT)) + COUNT(*))
            // (2 * COUNT(*)) AS DOUBLE) / 10000 AS mean_nll
FROM b GROUP BY lang, b3
""",
    doc="CCNet-style perplexity bucketing: per-language head / "
    "middle / tail terciles of the q_llm_perplexity score (the "
    "published CCNet pipeline splits each language's corpus into "
    "three quality buckets by LM perplexity and trains "
    "preferentially on the head). NTILE over (avg_nll, doc_id) is "
    "fully deterministic; per-bucket mean sums the already-rounded "
    "scores DECIMAL-exact.",
    scale_notes="Reuses the perplexity pipeline (bigram-key "
    "shuffles, unhinted count-table joins that AQE downgrades from "
    "broadcast at corpus scale), then one lang-partitioned NTILE "
    "window — per-language sort, no global order. At 100 TB the "
    "tercile split becomes two approx-quantile cut points per "
    "language (bounded ledger) instead of a full sort; the exact "
    "NTILE here is the oracle-checkable form of the same contract.",
)
def q_llm_ppl_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    ppl = q_llm_perplexity(spark, sf_dir).select("doc_id", "avg_nll")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("avg_nll", "doc_id")
    b = ppl.join(docs, "doc_id").withColumn("b3", F.ntile(3).over(w))
    bucket = (
        F.when(F.col("b3") == 1, "head")
        .when(F.col("b3") == 2, "middle")
        .otherwise("tail")
    )
    # exact integer half-up rounding of the bucket mean (see the oracle
    # comment: DuckDB's ROUND(double) multiplies by 10^s in double and
    # can land exactly on .5 where Spark's correctly-rounded ROUND does
    # not — sum 1e4-scaled integers and round the rational exactly)
    sum4 = F.sum(F.round(F.col("avg_nll") * 10000).cast("bigint"))
    n = F.count(F.lit(1))
    mean4 = F.expr(
        "div(2 * sum4 + n_docs, 2 * n_docs)"
    )
    return (
        b.groupBy("lang", "b3")
        .agg(n.alias("n_docs"), sum4.alias("sum4"))
        .select(
            "lang",
            bucket.alias("bucket"),
            "n_docs",
            (mean4.cast("double") / 10000).alias("mean_nll"),
        )
    )


@register(
    "q_llm_entropy_rate",
    oracle="""
WITH toks AS (
  SELECT string_split(text, ' ') AS t
  FROM documents WHERE len(string_split(text, ' ')) >= 2
), bg AS (
  SELECT unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS bigram
  FROM toks
), c2 AS (
  SELECT bigram, COUNT(*) AS n2 FROM bg GROUP BY bigram
), c1 AS (
  SELECT split_part(bigram, ' ', 1) AS w1, COUNT(*) AS n1
  FROM bg GROUP BY w1
), tot AS (
  SELECT CAST(SUM(n2) AS BIGINT) AS n FROM c2
)
SELECT tot.n AS n_bigrams,
       COUNT(*) AS n_distinct_bigrams,
       ROUND(CAST(SUM(CAST(ROUND(
               -(CAST(c2.n2 AS DOUBLE) / tot.n)
               * ln(CAST(c2.n2 AS DOUBLE) / c1.n1), 8)
             AS DECIMAL(18,8))) AS DOUBLE), 4) AS h_rate_nats
FROM c2
JOIN c1 ON split_part(c2.bigram, ' ', 1) = c1.w1
CROSS JOIN tot
GROUP BY tot.n
""",
    doc="Corpus bigram entropy rate H(w2 | w1) = -sum p(w1,w2) "
    "ln p(w2|w1) in nats — the corpus-level predictability summary "
    "whose per-document decomposition IS q_llm_perplexity's avg_nll "
    "(a corpus scored by its own bigram LM has mean NLL equal to "
    "this entropy rate): low entropy = repetitive/templated text, "
    "high = diverse. All probabilities are exact count ratios from "
    "the same c2/c1 tables perplexity uses; per-bigram terms ROUND "
    "to 8 decimals then DECIMAL-sum, order-independent over the "
    "vocabulary-sized grid.",
    scale_notes="Reuses the perplexity count shape: bigram-key "
    "map-combined shuffles, unhinted c1 join (AQE broadcasts while "
    "small). The entropy reduction is one pass over the "
    "distinct-bigram table — vocabulary-sized, not corpus-sized, "
    "and it shrinks relative to the corpus as text repeats.",
)
def q_llm_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bg = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1)))"
            )
        ).alias("bigram")
    )
    c2 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n2"))
    c1 = (
        bg.select(
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1")
        )
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("n1"))
    )
    tot = c2.agg(F.sum("n2").cast("bigint").alias("n"))
    term = F.round(
        -(F.col("n2").cast("double") / F.col("n"))
        * F.log(F.col("n2").cast("double") / F.col("n1")),
        8,
    ).cast("decimal(18,8)")
    return (
        c2.withColumn(
            "w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
        )
        .join(c1, "w1")
        .crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_bigrams"),
            F.round(F.sum(term).cast("double"), 4).alias("h_rate_nats"),
        )
        .select(
            F.col("n").alias("n_bigrams"),
            "n_distinct_bigrams",
            "h_rate_nats",
        )
    )


_BM25_TERMS = ("hash", "spark", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "q_llm_bm25",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
  FROM tok WHERE token <> '' GROUP BY doc_id
), corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE token IN ('hash', 'spark', 'window')
  GROUP BY doc_id, token
), df AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
), scored AS (
  SELECT tf.doc_id,
         CAST(ROUND(
           ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({_BM25_K1} + 1))
           / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
              + {_BM25_B} * dl.dl / corpus.avgdl)), 8)
           AS DECIMAL(18,8)) AS contrib
  FROM tf
  JOIN df USING (token)
  JOIN dl USING (doc_id)
  CROSS JOIN corpus
)
SELECT doc_id, ROUND(CAST(SUM(contrib) AS DOUBLE), 4) AS bm25
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC LIMIT 20
""",
    doc="BM25 ranking for the fixed 3-term query "
    f"{' '.join(_BM25_TERMS)!r} (k1={_BM25_K1}, b={_BM25_B}): "
    "Robertson idf ln(1 + (N-df+0.5)/(df+0.5)), tf saturation, "
    "document-length normalization against the corpus average — "
    "the standard lexical-retrieval scorer that q_llm_tfidf "
    "underlies and RAG pipelines pair with q_llm_knn's vector "
    "side (q_rank_fusion combines the two rankings). Per-term "
    "contributions ROUND-8 DECIMAL-summed; top-20 with doc_id "
    "tie-break.",
    scale_notes="Two token-ledger aggregates (doc lengths, term "
    "tfs pruned to the query terms BEFORE any shuffle) + a 3-row "
    "df broadcast + the 1-row corpus stats crossJoin "
    "(q_llm_tfidf's pattern); top-20 compiles to "
    "TakeOrderedAndProject. Query-term filtering first means the "
    "scored relation is (matching docs x query terms), not the "
    "corpus.",
)
def q_llm_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    dl = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl")
    )
    corpus = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    idf = F.log(
        F.lit(1)
        + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = F.round(
        idf
        * (F.col("tf") * (_BM25_K1 + 1))
        / (
            F.col("tf")
            + _BM25_K1
            * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        ),
        8,
    ).cast("decimal(18,8)")
    return (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib).cast("double"), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )


@register(
    "q_llm_filter_funnel",
    oracle=f"""
WITH flags AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY md5(text)
                            ORDER BY doc_id) > 1 AS is_dup,
         len(list_filter(string_split(text, ' '), t -> t <> ''))
           AS n_tokens,
         len(list_intersect(string_split(text, ' '),
                            ['the', 'a', 'of'])) AS n_stop_kinds,
         len(list_distinct(list_filter(string_split(text, ' '),
                                       t -> t <> '')))
           AS n_distinct
  FROM documents
), killed AS (
  SELECT doc_id,
         CASE
           WHEN is_dup THEN 1
           WHEN n_tokens < 15 OR n_tokens > 5000 THEN 2
           WHEN n_stop_kinds = 0 THEN 3
           WHEN CAST(n_distinct AS DOUBLE) / n_tokens < 0.3 THEN 4
           ELSE 99
         END AS killed_at
  FROM flags
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM killed
), stages AS (
  SELECT s.stage, s.stage_name,
         CAST((SELECT COUNT(*) FROM killed k
               WHERE k.killed_at = s.stage) AS BIGINT) AS n_killed,
         CAST((SELECT COUNT(*) FROM killed k
               WHERE k.killed_at > s.stage) AS BIGINT) AS n_out
  FROM (VALUES (1, 'exact_dup'), (2, 'length'),
               (3, 'no_stopwords'), (4, 'repetition')) s(stage, stage_name)
)
SELECT stage, stage_name,
       CAST(n_killed + n_out AS BIGINT) AS n_in, n_killed, n_out,
       {signed_ratio_round_sql('n_out', 'tot.n_docs', 4, '//')} AS cum_survival
FROM stages CROSS JOIN tot ORDER BY stage
""",
    doc="Curation filter funnel: the ordered filter cascade every "
    "pretraining pipeline reports — exact-dup removal (first doc "
    "per md5 wins), C4 length gates (15..5000 tokens), the "
    "stopword-presence gate, and a distinct-token repetition gate "
    "(ratio >= 0.3) — with per-stage kill counts, survivors, and "
    "cumulative survival rate. Each document is attributed to the "
    "FIRST stage that kills it, so the stage columns sum exactly "
    "to the corpus and the funnel is auditable stage by stage "
    "(the accounting layer over q_llm_exact_dedup / q_llm_c4_filter "
    "/ q_llm_repetition).",
    scale_notes="One pass computes every per-doc flag (one md5 "
    "window for dup-rank, the rest zero-shuffle token arithmetic); "
    "the funnel itself is a ledger aggregation over killed_at in "
    "[1..4, 99] + a constant 4-row stage axis. Adding a filter "
    "adds a CASE arm, not a pass.",
)
def q_llm_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    flags = docs.select(
        "doc_id",
        (F.row_number().over(w) > 1).alias("is_dup"),
        F.size(toks).alias("n_tokens"),
        F.size(
            F.array_intersect(
                F.split("text", " "),
                F.array(*[F.lit(s) for s in _STOPWORDS]),
            )
        ).alias("n_stop_kinds"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    killed = flags.select(
        F.when(F.col("is_dup"), 1)
        .when(
            (F.col("n_tokens") < 15) | (F.col("n_tokens") > 5000), 2
        )
        .when(F.col("n_stop_kinds") == 0, 3)
        .when(
            F.col("n_distinct").cast("double") / F.col("n_tokens") < 0.3,
            4,
        )
        .otherwise(99)
        .alias("killed_at")
    )
    ledger = killed.groupBy("killed_at").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = ledger.agg(F.sum("c").cast("bigint").alias("n_docs"))
    stage_axis = [(1, "exact_dup"), (2, "length"),
                  (3, "no_stopwords"), (4, "repetition")]
    axis = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(n).alias("stage"), F.lit(s).alias("stage_name")
                )
                for n, s in stage_axis
            ]
        )
    ).alias("s")
    stages = (
        tot.select(axis, "n_docs")
        .select("s.stage", "s.stage_name", "n_docs")
        .join(
            F.broadcast(ledger),
            F.col("killed_at") >= F.col("stage"),
            "left",
        )
        .groupBy("stage", "stage_name", "n_docs")
        .agg(
            F.sum(
                F.when(F.col("killed_at") == F.col("stage"), F.col("c"))
            )
            .cast("bigint")
            .alias("n_killed_raw"),
            F.sum(
                F.when(F.col("killed_at") > F.col("stage"), F.col("c"))
            )
            .cast("bigint")
            .alias("n_out_raw"),
        )
    )
    # BOTH conditional sums need the empty-set coalesce: a stage that
    # kills every remaining doc has no killed_at > stage rows, and the
    # raw SUM returns NULL where the oracle's COUNT returns 0 (caught
    # by the r7 structural-variant sweep — invisible on the fixture,
    # where every stage has survivors).
    n_killed = F.coalesce(F.col("n_killed_raw"), F.lit(0)).cast("bigint")
    n_out = F.coalesce(F.col("n_out_raw"), F.lit(0)).cast("bigint")
    return (
        stages.select(
            "stage",
            "stage_name",
            (n_killed + n_out).cast("bigint").alias("n_in"),
            n_killed.alias("n_killed"),
            n_out.alias("n_out"),
            # exact integer half-up (rule-8 batch-2 sweep)
            F.expr(
                signed_ratio_round_sql(
                    "coalesce(n_out_raw, 0)", "n_docs", 4, "div"
                )
            ).alias("cum_survival"),
        )
        .orderBy("stage")
    )


#: Shared candidate/reference pairing for the generation-eval metrics
#: (q_llm_rouge / q_llm_bleu): even doc_id = reference, odd = candidate,
#: paired on doc_id // 2 — a deterministic stand-in for (model output,
#: gold) pairs.
_EVAL_NGRAM_CTES = """tok AS (
  SELECT doc_id, doc_id // 2 AS pair_id, doc_id % 2 = 1 AS is_cand,
         unnest(string_split(text, ' ')) AS t,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), grams AS (
  SELECT pair_id, is_cand, 1 AS n, t AS g, COUNT(*) AS c
  FROM tok WHERE t <> '' GROUP BY pair_id, is_cand, t
  UNION ALL
  SELECT a.pair_id, a.is_cand, 2 AS n, a.t || '>' || b.t AS g, COUNT(*) AS c
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.t <> '' AND b.t <> ''
  GROUP BY a.pair_id, a.is_cand, a.t || '>' || b.t
), per_pair AS (
  SELECT COALESCE(ca.pair_id, re.pair_id) AS pair_id,
         COALESCE(ca.n, re.n) AS n,
         CAST(SUM(LEAST(COALESCE(ca.c, 0), COALESCE(re.c, 0))) AS BIGINT)
           AS overlap,
         CAST(SUM(COALESCE(ca.c, 0)) AS BIGINT) AS cand_c,
         CAST(SUM(COALESCE(re.c, 0)) AS BIGINT) AS ref_c
  FROM (SELECT * FROM grams WHERE is_cand) ca
  FULL JOIN (SELECT * FROM grams WHERE NOT is_cand) re
    ON ca.pair_id = re.pair_id AND ca.n = re.n AND ca.g = re.g
  GROUP BY 1, 2
)"""


def _eval_pair_ngrams(docs: DataFrame) -> DataFrame:
    """(pair_id, n, overlap, cand_c, ref_c) clipped n-gram overlap
    ledger for n in (1, 2) — the DataFrame twin of _EVAL_NGRAM_CTES,
    shared by the ROUGE and BLEU heads."""
    tok = (
        docs.select(
            "doc_id",
            F.expr("doc_id DIV 2").alias("pair_id"),
            (F.col("doc_id") % 2 == 1).alias("is_cand"),
            F.posexplode(F.split("text", " ")).alias("pos", "t"),
        )
        .filter(F.col("t") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    uni = tok.groupBy("pair_id", "is_cand", F.col("t").alias("g")).agg(
        F.count(F.lit(1)).alias("c")
    ).select("pair_id", "is_cand", F.lit(1).alias("n"), "g", "c")
    bi = (
        tok.select(
            "pair_id",
            "is_cand",
            F.concat_ws(">", "t", F.lead("t", 1).over(w)).alias("g2"),
            F.lead("t", 1).over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .groupBy("pair_id", "is_cand", F.col("g2").alias("g"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select("pair_id", "is_cand", F.lit(2).alias("n"), "g", "c")
    )
    grams = uni.unionByName(bi)
    ca = grams.filter("is_cand").select(
        "pair_id", "n", "g", F.col("c").alias("cc")
    )
    re_ = grams.filter("NOT is_cand").select(
        "pair_id", "n", "g", F.col("c").alias("rc")
    )
    return (
        ca.join(re_, ["pair_id", "n", "g"], "full")
        .groupBy("pair_id", "n")
        .agg(
            F.sum(
                F.least(
                    F.coalesce(F.col("cc"), F.lit(0)),
                    F.coalesce(F.col("rc"), F.lit(0)),
                )
            )
            .cast("bigint")
            .alias("overlap"),
            F.sum(F.coalesce(F.col("cc"), F.lit(0)))
            .cast("bigint")
            .alias("cand_c"),
            F.sum(F.coalesce(F.col("rc"), F.lit(0)))
            .cast("bigint")
            .alias("ref_c"),
        )
    )


@register(
    "q_llm_rouge",
    oracle=f"""
WITH {_EVAL_NGRAM_CTES}
SELECT n,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {signed_ratio_round_sql('CAST(SUM(overlap) AS BIGINT)',
                               'CAST(SUM(cand_c) AS BIGINT)', 4, '//')}
         AS precision,
       {signed_ratio_round_sql('CAST(SUM(overlap) AS BIGINT)',
                               'CAST(SUM(ref_c) AS BIGINT)', 4, '//')}
         AS recall,
       CASE WHEN SUM(overlap) = 0 THEN NULL ELSE
       {signed_ratio_round_sql('CAST(2 * SUM(overlap) AS BIGINT)',
                               'CAST(SUM(cand_c) + SUM(ref_c) AS BIGINT)',
                               4, '//')} END AS f1
FROM per_pair GROUP BY n ORDER BY n
""",
    doc="Micro-averaged ROUGE-1/ROUGE-2 over (candidate, reference) "
    "document pairs (odd doc_id scored against its even sibling): "
    "clipped n-gram overlap — sum of min(candidate count, reference "
    "count) per gram — over corpus-summed candidate/reference "
    "totals gives precision/recall/F1 per n. The "
    "generation-evaluation surface: the same plan scores model "
    "outputs against golds at corpus scale, no per-pair driver "
    "loop.",
    scale_notes="The overlap ledger shuffles (pair, n, gram) "
    "partial counts — never text — and the full-outer gram join is "
    "hash-keyed on (pair, n, gram), so cost is linear in distinct "
    "grams. Micro-averaging makes the final reduction a 2-row "
    "ledger whatever the corpus size.",
)
def q_llm_rouge(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_pair = _eval_pair_ngrams(read_table(spark, sf_dir, "documents"))
    # exact integer half-up (rule-8 batch-2 sweep): precision/recall
    # are count ratios; the F1 harmonic mean simplifies to the exact
    # rational 2*overlap / (cand + ref), with the old 0/0 -> NULL
    # behavior preserved for zero-overlap pools
    return (
        per_pair.groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("overlap").cast("bigint").alias("so"),
            F.sum("cand_c").cast("bigint").alias("sc"),
            F.sum("ref_c").cast("bigint").alias("sr"),
        )
        .select(
            "n",
            "n_pairs",
            F.expr(
                signed_ratio_round_sql("so", "sc", 4, "div")
            ).alias("precision"),
            F.expr(
                signed_ratio_round_sql("so", "sr", 4, "div")
            ).alias("recall"),
            F.when(
                F.col("so") == 0, F.lit(None).cast("double")
            ).otherwise(
                F.expr(
                    signed_ratio_round_sql("2 * so", "sc + sr", 4, "div")
                )
            ).alias("f1"),
        )
        .orderBy("n")
    )


@register(
    "q_llm_bleu",
    oracle=f"""
WITH {_EVAL_NGRAM_CTES}
, agg AS (
  SELECT CAST(SUM(CASE WHEN n = 1 THEN overlap ELSE 0 END) AS DOUBLE)
           / SUM(CASE WHEN n = 1 THEN cand_c ELSE 0 END) AS p1,
         CAST(SUM(CASE WHEN n = 2 THEN overlap ELSE 0 END) AS DOUBLE)
           / SUM(CASE WHEN n = 2 THEN cand_c ELSE 0 END) AS p2,
         CAST(SUM(CASE WHEN n = 1 THEN overlap ELSE 0 END) AS BIGINT) AS o1,
         CAST(SUM(CASE WHEN n = 1 THEN cand_c ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN n = 2 THEN overlap ELSE 0 END) AS BIGINT) AS o2,
         CAST(SUM(CASE WHEN n = 2 THEN cand_c ELSE 0 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN n = 1 THEN cand_c ELSE 0 END) AS BIGINT)
           AS cand_len,
         CAST(SUM(CASE WHEN n = 1 THEN ref_c ELSE 0 END) AS BIGINT)
           AS ref_len,
         CAST(COUNT(DISTINCT pair_id) AS BIGINT) AS n_pairs
  FROM per_pair
)
SELECT n_pairs, cand_len, ref_len,
       {signed_ratio_round_sql('o1', 'c1', 4, '//')} AS p1,
       {signed_ratio_round_sql('o2', 'c2', 4, '//')} AS p2,
       ROUND(CASE WHEN cand_len >= ref_len THEN 1.0
                  ELSE EXP(1 - CAST(ref_len AS DOUBLE) / cand_len) END, 4)
         AS brevity_penalty,
       ROUND(CASE WHEN cand_len >= ref_len THEN 1.0
                  ELSE EXP(1 - CAST(ref_len AS DOUBLE) / cand_len) END
             * EXP((LN(p1) + LN(p2)) / 2), 4) AS bleu2
FROM agg
""",
    doc="Corpus-level BLEU-2 over the same (candidate, reference) "
    "pairing as q_llm_rouge: clipped modified 1/2-gram precisions "
    "pooled across the corpus (the Papineni corpus-BLEU "
    "definition, not a mean of per-sentence scores), geometric "
    "mean, and the brevity penalty exp(1 - ref_len/cand_len) when "
    "candidates run short. Every input to the final double "
    "expression is an exact integer count.",
    scale_notes="Shares q_llm_rouge's overlap-ledger physics; the "
    "BLEU head is a single 1-row reduction over the (pair, n) "
    "ledger. Corpus-pooled counts mean no per-pair smoothing "
    "corrections are needed at any scale.",
)
def q_llm_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_pair = _eval_pair_ngrams(read_table(spark, sf_dir, "documents"))
    is1 = F.col("n") == 1
    is2 = F.col("n") == 2
    agg = per_pair.agg(
        (
            F.sum(F.when(is1, F.col("overlap")).otherwise(0)).cast("double")
            / F.sum(F.when(is1, F.col("cand_c")).otherwise(0))
        ).alias("p1"),
        (
            F.sum(F.when(is2, F.col("overlap")).otherwise(0)).cast("double")
            / F.sum(F.when(is2, F.col("cand_c")).otherwise(0))
        ).alias("p2"),
        F.sum(F.when(is1, F.col("overlap")).otherwise(0))
        .cast("bigint")
        .alias("o1"),
        F.sum(F.when(is1, F.col("cand_c")).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(is2, F.col("overlap")).otherwise(0))
        .cast("bigint")
        .alias("o2"),
        F.sum(F.when(is2, F.col("cand_c")).otherwise(0))
        .cast("bigint")
        .alias("c2"),
        F.sum(F.when(is1, F.col("cand_c")).otherwise(0))
        .cast("bigint")
        .alias("cand_len"),
        F.sum(F.when(is1, F.col("ref_c")).otherwise(0))
        .cast("bigint")
        .alias("ref_len"),
        F.count_distinct("pair_id").cast("bigint").alias("n_pairs"),
    )
    bp = F.when(
        F.col("cand_len") >= F.col("ref_len"), F.lit(1.0)
    ).otherwise(
        F.exp(
            F.lit(1) - F.col("ref_len").cast("double") / F.col("cand_len")
        )
    )
    return agg.select(
        "n_pairs",
        "cand_len",
        "ref_len",
        # exact integer half-up (rule-8 batch-2 sweep); the
        # transcendental brevity-penalty/geometric-mean terms keep the
        # float ROUND (not constructible rationals)
        F.expr(signed_ratio_round_sql("o1", "c1", 4, "div")).alias("p1"),
        F.expr(signed_ratio_round_sql("o2", "c2", 4, "div")).alias("p2"),
        F.round(bp, 4).alias("brevity_penalty"),
        F.round(
            bp * F.exp((F.log("p1") + F.log("p2")) / 2), 4
        ).alias("bleu2"),
    )


#: Absolute discount for the Kneser-Ney smoothed bigram model.
_KN_DISCOUNT = 0.75


@register(
    "q_llm_kneser_ney",
    oracle=f"""
WITH toks AS (
  SELECT string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), pairs AS (
  SELECT unnest(list_transform(range(1, len(t)),
                               i -> struct_pack(w1 := t[i],
                                                w2 := t[i + 1]))) AS p
  FROM toks
), bg AS (
  SELECT p.w1 AS w1, p.w2 AS w2 FROM pairs
), c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY w1, w2
), g1 AS (
  SELECT w1, CAST(SUM(c) AS BIGINT) AS c1,
         CAST(COUNT(*) AS BIGINT) AS n1f
  FROM c2 GROUP BY w1
), g2 AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM c2 GROUP BY w2
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS b, CAST(SUM(c) AS BIGINT) AS t
  FROM c2
), scored AS (
  SELECT c2.c,
         (GREATEST(CAST(c2.c AS DOUBLE) - {_KN_DISCOUNT}, 0) / g1.c1)
         + (({_KN_DISCOUNT} * g1.n1f / g1.c1)
            * (CAST(g2.n1b AS DOUBLE) / tot.b)) AS p_kn,
         CAST(c2.c AS DOUBLE) / g1.c1 AS p_mle
  FROM c2 JOIN g1 USING (w1) JOIN g2 USING (w2) CROSS JOIN tot
)
SELECT tot.t AS n_bigrams, tot.b AS n_bigram_types,
       ROUND(CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE) * -LN(p_kn), 8)
                           AS DECIMAL(28,8))) AS DOUBLE) / tot.t, 4)
         AS h_kn_nats,
       ROUND(CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE) * -LN(p_mle), 8)
                           AS DECIMAL(28,8))) AS DOUBLE) / tot.t, 4)
         AS h_mle_nats
FROM scored CROSS JOIN tot
GROUP BY tot.t, tot.b
""",
    doc="Kneser-Ney smoothed bigram language model (absolute "
    f"discount d={_KN_DISCOUNT}): P(w2|w1) = max(c-d,0)/c(w1) + "
    "d*N1+(w1,.)/c(w1) * N1+(.,w2)/B, where the continuation "
    "probability counts DISTINCT predecessor types, not tokens — "
    "the smoothing that q_llm_perplexity's MLE bigram model lacks. "
    "Emits corpus cross-entropy under both models; smoothing "
    "necessarily costs entropy on the training corpus itself "
    "(h_kn >= h_mle, asserted in tests). Per-bigram NLL terms are "
    "ROUND-8 DECIMAL-summed for order-independence.",
    scale_notes="All model state lives in three count tables over "
    "distinct bigram/unigram types — the two vocabulary joins are "
    "hash joins on w1/w2 with NO broadcast hints (the r5 "
    "perplexity ruling: vocabulary grows with the corpus), and the "
    "1-row (B, T) total crosses in broadcast. Shuffles carry "
    "(gram, count) pairs, never text.",
)
def q_llm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bg = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1,"
                "             element_at(t, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c2 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    g1 = c2.groupBy("w1").agg(
        F.sum("c").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1f"),
    )
    g2 = c2.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1b")
    )
    tot = c2.agg(
        F.count(F.lit(1)).cast("bigint").alias("b"),
        F.sum("c").cast("bigint").alias("t"),
    )
    d = F.lit(_KN_DISCOUNT)
    p_kn = (
        F.greatest(F.col("c").cast("double") - d, F.lit(0.0)) / F.col("c1")
    ) + (
        (d * F.col("n1f") / F.col("c1"))
        * (F.col("n1b").cast("double") / F.col("b"))
    )
    p_mle = F.col("c").cast("double") / F.col("c1")
    nll = lambda p: F.sum(  # noqa: E731
        F.round(F.col("c").cast("double") * -F.log(p), 8).cast(
            "decimal(28,8)"
        )
    ).cast("double")
    return (
        c2.join(g1, "w1")
        .join(g2, "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy(
            F.col("t").alias("n_bigrams"),
            F.col("b").alias("n_bigram_types"),
        )
        .agg(
            F.round(nll(p_kn) / F.first("t"), 4).alias("h_kn_nats"),
            F.round(nll(p_mle) / F.first("t"), 4).alias("h_mle_nats"),
        )
    )


@register(
    "q_llm_ppl_holdout",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 100 AS bucket,
         string_split(text, ' ') AS t
  FROM documents WHERE len(string_split(text, ' ')) >= 2
), bg AS (
  SELECT doc_id, bucket,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS bigram
  FROM toks
), c2 AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n2
  FROM bg WHERE bucket < 80 GROUP BY bigram
), c1 AS (
  SELECT split_part(bigram, ' ', 1) AS w1, CAST(COUNT(*) AS BIGINT) AS n1
  FROM bg WHERE bucket < 80 GROUP BY w1
), v AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS vsize FROM c1
), nll AS (
  SELECT bg.doc_id,
         CASE WHEN c2.n2 IS NULL THEN 1 ELSE 0 END AS oov,
         CAST(ROUND(-ln((COALESCE(c2.n2, 0) + 1.0)
                        / (COALESCE(c1.n1, 0) + v.vsize)), 6)
              AS DECIMAL(18,6)) AS nll
  FROM bg CROSS JOIN v
  LEFT JOIN c2 USING (bigram)
  LEFT JOIN c1 ON split_part(bg.bigram, ' ', 1) = c1.w1
  WHERE bg.bucket >= 90
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(oov) AS BIGINT) AS n_unseen,
       CAST((2 * CAST(SUM(nll) * 1000000 AS BIGINT) + 100 * COUNT(*))
            // (200 * COUNT(*)) AS DOUBLE) / 10000.0 AS avg_nll
FROM nll GROUP BY doc_id
""",
    doc="Leak-free held-out perplexity (the methodologically-correct "
    "variant of q_llm_perplexity, which scores the corpus under its "
    "OWN counts and therefore flatters duplicated text): the bigram "
    "LM fits ONLY the md5-bucket<80 train split (the q_llm_split "
    "convention), smooths add-1 over the train prefix vocabulary "
    "(unseen bigram -> (0+1)/(0+V)), and scores the bucket>=90 test "
    "docs — per doc the bigram count, unseen-bigram count, and mean "
    "NLL. Train/test membership is content-hash stable, so the split "
    "never leaks across engines or reruns. Per-bigram NLL ROUND-6 "
    "DECIMAL-summed.",
    scale_notes="Same physical shape as q_llm_perplexity — one "
    "bigram-key shuffle of the test stream against the train count "
    "ledgers (unhinted: AQE broadcasts while small, shuffle-joins at "
    "corpus scale); the 1-row vocab size is the q_filter_ts_cursor "
    "crossJoin. The train filter rides the same scan.",
)
def q_llm_ppl_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    bucket = (
        md5_prefix_int("doc_id", 15) % 100
    )
    toks = docs.select(
        "doc_id", bucket.alias("bucket"), F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 2)
    bg = toks.select(
        "doc_id",
        "bucket",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1)))"
            )
        ).alias("bigram"),
    )
    train = bg.filter(F.col("bucket") < 80)
    c2 = train.groupBy("bigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("n2")
    )
    c1 = (
        train.select(
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1")
        )
        .groupBy("w1")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
    )
    v = c1.agg(F.count(F.lit(1)).cast("bigint").alias("vsize"))
    # train count ledgers are vocabulary-sized: NO broadcast hints
    # (AQE broadcasts while small, shuffle-joins at corpus scale)
    nll = (
        bg.filter(F.col("bucket") >= 90)
        .crossJoin(F.broadcast(v))
        .join(c2, "bigram", "left")
        .withColumn(
            "w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
        )
        .join(c1, "w1", "left")
        .select(
            "doc_id",
            F.when(F.col("n2").isNull(), 1).otherwise(0).alias("oov"),
            F.round(
                -F.log(
                    (F.coalesce(F.col("n2"), F.lit(0)) + 1.0)
                    / (F.coalesce(F.col("n1"), F.lit(0)) + F.col("vsize"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("nll"),
        )
    )
    # avg_nll via EXACT integer half-up on micro-units: the decimal
    # sum S (scale 6) over count c can land the rational mean exactly
    # on a 4th-decimal half boundary (offset-41414141 battery: doc
    # with one bigram 12x repeated -> mean exactly 1.75245), where
    # Spark's HALF_UP-on-shortest-repr and DuckDB's binary-value round
    # break the tie in opposite directions.  (2*S_micro + 100*c) div
    # (200*c) is round-half-up(S_micro / (100*c)) for the always-
    # positive NLL, computed identically in both engines' bigints.
    return (
        nll.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("oov").cast("bigint").alias("n_unseen"),
            (F.sum("nll") * F.lit(1000000))
            .cast("bigint")
            .alias("s_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_unseen",
            (
                F.expr(
                    "(2 * s_micro + 100 * n_bigrams) "
                    "div (200 * n_bigrams)"
                ).cast("double")
                / 10000.0
            ).alias("avg_nll"),
        )
    )


@register(
    "q_llm_log_odds",
    oracle="""
WITH toks AS (
  SELECT lang = 'en' AS grp_en, unnest(string_split(text, ' ')) AS w
  FROM documents
), cnt AS (
  SELECT w,
         CAST(SUM(CASE WHEN grp_en THEN 1 ELSE 0 END) AS BIGINT) AS y1,
         CAST(SUM(CASE WHEN grp_en THEN 0 ELSE 1 END) AS BIGINT) AS y2
  FROM toks GROUP BY w
), tot AS (
  SELECT CAST(SUM(y1) AS BIGINT) AS n1, CAST(SUM(y2) AS BIGINT) AS n2
  FROM cnt
), z AS (
  SELECT w, y1, y2,
         ROUND((LN((y1 + 0.5) / (tot.n1 + 0.5 - y1))
                - LN((y2 + 0.5) / (tot.n2 + 0.5 - y2)))
               / SQRT(1.0 / (y1 + 0.5) + 1.0 / (y2 + 0.5)), 6) AS zscore
  FROM cnt CROSS JOIN tot
)
SELECT w AS token, y1 AS n_en, y2 AS n_rest, zscore
FROM z ORDER BY ABS(zscore) DESC, w ASC LIMIT 15
""",
    doc="Distinguishing-terms analysis (Monroe et al. 2008 'Fightin' "
    "Words': log-odds-ratio with a +0.5 Dirichlet prior, "
    "variance-standardized): for every token, the z-scored "
    "difference between its log odds in the EN subcorpus and the "
    "rest — positive z marks EN-distinctive vocabulary, negative the "
    "reverse; the prior keeps rare words from dominating the way raw "
    "TF-IDF contrast does (complements q_llm_keywords' per-doc "
    "ranking with a corpus-contrast ranking). Top-15 by |z|, token "
    "tie-break, z pre-rounded to 6 decimals so the ordering is "
    "engine-stable.",
    scale_notes="One (group, token) count ledger (map-combined) + a "
    "1-row total crossJoin + TakeOrderedAndProject — vocabulary-"
    "bounded, corpus-size independent after the scan. Any contrast "
    "pair (source vs source, snapshot vs snapshot) swaps the group "
    "predicate only.",
)
def q_llm_log_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("lang") == "en").alias("grp_en"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    cnt = toks.groupBy("w").agg(
        F.sum(F.when(F.col("grp_en"), 1).otherwise(0))
        .cast("bigint")
        .alias("y1"),
        F.sum(F.when(F.col("grp_en"), 0).otherwise(1))
        .cast("bigint")
        .alias("y2"),
    )
    tot = cnt.agg(
        F.sum("y1").cast("bigint").alias("n1"),
        F.sum("y2").cast("bigint").alias("n2"),
    )
    zscore = F.round(
        (
            F.log((F.col("y1") + 0.5) / (F.col("n1") + 0.5 - F.col("y1")))
            - F.log((F.col("y2") + 0.5) / (F.col("n2") + 0.5 - F.col("y2")))
        )
        / F.sqrt(1.0 / (F.col("y1") + 0.5) + 1.0 / (F.col("y2") + 0.5)),
        6,
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            F.col("w").alias("token"),
            F.col("y1").alias("n_en"),
            F.col("y2").alias("n_rest"),
            zscore.alias("zscore"),
        )
        .orderBy(F.abs(F.col("zscore")).desc(), F.col("token").asc())
        .limit(15)
    )
