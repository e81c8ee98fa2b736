"""Training-data preparation operators for LLM pipelines
(SURVEY.md §2 B.9 extension, round 6): benchmark decontamination,
PII scrubbing, Zipf profiling, lexical diversity, Gopher-rule quality
gating, RAG chunking, domain-mixture reweighting, language entropy.

These are the corpus-curation steps a 100 TB pretraining pipeline runs
between raw crawl and tokenizer: every one is built-in-function
DataFrame code (JVM codegen, no Python in the row path), and every one
carries an exact DuckDB oracle.

Scale shapes (per-operator notes on each spec):
- decontamination shuffles DISTINCT (doc, shingle) pairs, never text;
- scrubbing / chunking / Gopher gates are zero-shuffle projections;
- Zipf / entropy / mixture are two-phase aggregates over
  vocabulary- or partition-count-sized intermediates.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_etl_spark.functions.exact import (
    md5_prefix_int,
    ratio_round4_sql,
    signed_ratio_round_sql,
    word_ngrams,
)
from weather_etl_spark.io import read_table
from weather_etl_spark.registry import register

#: Deterministic benchmark membership: ~1/23 of documents stand in for
#: the held-out eval set that training data must not contain.
_BENCH_MOD = 23
#: Shingle width for contamination checks (the published 8-13-gram
#: practice scaled to the fixture's short documents).
_GRAM = 4


@register(
    "q_llm_decontaminate",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - {_GRAM - 2}),
                               i -> array_to_string(t[i:i + {_GRAM - 1}],
                                                    ' '))) AS g
  FROM toks WHERE len(t) >= {_GRAM}
), bench AS (
  SELECT DISTINCT g FROM sh WHERE doc_id % {_BENCH_MOD} = 0
), train AS (
  SELECT DISTINCT doc_id, g FROM sh WHERE doc_id % {_BENCH_MOD} <> 0
)
SELECT train.doc_id AS doc_id, COUNT(*) AS n_shared
FROM train JOIN bench USING (g)
GROUP BY train.doc_id
""",
    doc="Benchmark decontamination (the published n-gram-overlap "
    "filter every pretraining corpus runs): documents whose id is "
    f"0 mod {_BENCH_MOD} play the held-out benchmark; every other "
    f"document is flagged with the count of distinct {_GRAM}-gram "
    "shingles it shares with any benchmark document. Downstream, "
    "n_shared >= 1 means drop-or-audit.",
    scale_notes="Shuffles carry DISTINCT (doc_id, shingle) pairs, "
    "never document text. The benchmark shingle set is bounded by the "
    "eval suite (thousands of docs, not the corpus), so AQE "
    "broadcasts it; no hint — the same plan degrades to a shuffle "
    "join if a giant benchmark is ever supplied.",
)
def q_llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    sh = toks.select("doc_id", F.explode(word_ngrams("t", _GRAM)).alias("g"))
    bench = (
        sh.filter(F.col("doc_id") % _BENCH_MOD == 0).select("g").distinct()
    )
    train = sh.filter(F.col("doc_id") % _BENCH_MOD != 0).distinct()
    return (
        train.join(bench, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


#: Redaction patterns — identical RE2/Java-regex-compatible syntax
#: (character classes + bounded repetition only, no lookaround).
_PII_EMAIL = "[a-z0-9]+@[a-z0-9.]+[a-z]"
_PII_PHONE = "[+]1-555-[0-9]{4}"
_PII_IP = "10[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"


@register(
    "q_llm_pii_scrub",
    oracle=f"""
WITH salted AS (
  SELECT doc_id,
         text || ' contact user' || doc_id ||
         '@mail.example.com or +1-555-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         ' from 10.' || doc_id % 256 || '.0.1' AS txt
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(txt, '{_PII_EMAIL}'))  AS n_email,
       len(regexp_extract_all(txt, '{_PII_PHONE}'))  AS n_phone,
       len(regexp_extract_all(txt, '{_PII_IP}'))     AS n_ip,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(txt, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IP}', '<IP>', 'g')) AS scrub_hash
FROM salted
""",
    doc="PII scrubbing: emails, phone numbers, and IPs redacted with "
    "typed placeholder tokens, per-document redaction counts plus an "
    "md5 of the scrubbed text as the value-level contract. The "
    "fixture text carries no PII, so each document is deterministically "
    "salted with synthetic contact strings derived from its id — the "
    "regex machinery (patterns shared verbatim with the oracle) is "
    "what's under test.",
    scale_notes="Zero-shuffle projection: regexp_replace/extract_all "
    "are codegen'd JVM expressions, embarrassingly parallel over the "
    "corpus. At 100 TB this runs at scan speed; no state, no skew.",
)
def q_llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    txt = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(txt, _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    def n_hits(pat: str) -> F.Column:
        return F.size(
            F.regexp_extract_all(txt, F.lit(pat), F.lit(0))
        ).cast("long")

    return docs.select(
        "doc_id",
        n_hits(_PII_EMAIL).alias("n_email"),
        n_hits(_PII_PHONE).alias("n_phone"),
        n_hits(_PII_IP).alias("n_ip"),
        F.md5(scrubbed).alias("scrub_hash"),
    )


@register(
    "q_llm_zipf",
    oracle=f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), freq AS (
  SELECT token, COUNT(*) AS n FROM tok GROUP BY token
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total FROM freq
), ranked AS (
  SELECT token, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rank
  FROM freq
)
SELECT token, CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank,
       CAST(n * rank AS BIGINT) AS zipf_product,
       {signed_ratio_round_sql('n', 'total', 6, '//')} AS share
FROM ranked CROSS JOIN tot
WHERE rank <= 20
ORDER BY rank
""",
    doc="Zipf profile of the corpus vocabulary: top-20 tokens with "
    "frequency, rank (ties broken by token), the rank x freq product "
    "(≈ constant under Zipf's law — the sanity check corpus reports "
    "publish), and corpus share.",
    scale_notes="One vocabulary-sized shuffle for the token counts, "
    "then a top-20 TakeOrderedAndProject and a 1-row total broadcast "
    "— the corpus text itself never re-shuffles.",
)
def q_llm_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = freq.agg(F.sum("n").cast("bigint").alias("total"))
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    ranked = (
        freq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .crossJoin(F.broadcast(tot))
    )
    return ranked.select(
        "token",
        F.col("n").cast("bigint").alias("n"),
        F.col("rank").cast("bigint").alias("rank"),
        (F.col("n") * F.col("rank")).cast("bigint").alias("zipf_product"),
        # exact integer half-up (rule-8 batch-2 sweep)
        F.expr(signed_ratio_round_sql("n", "total", 6, "div")).alias(
            "share"
        ),
    ).orderBy("rank")


@register(
    "q_llm_ttr",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
         AS n_types,
       ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')), 4) AS ttr
FROM documents
WHERE len(string_split(text, ' ')) > 0
""",
    doc="Type-token ratio (lexical diversity): per document, token "
    "count, distinct-token count, and their ratio — the classic "
    "repetitive-boilerplate signal quality pipelines threshold on "
    "(low TTR = template/spam text).",
)
def q_llm_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    return (
        docs.select(
            "doc_id",
            F.size(t).cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct(t)).cast("bigint").alias("n_types"),
            F.round(
                F.size(F.array_distinct(t)).cast("double") / F.size(t), 4
            ).alias("ttr"),
        )
        .filter(F.col("n_tokens") > 0)
    )


@register(
    "q_llm_gopher_filter",
    oracle="""
WITH m AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')), 4) AS mean_wlen,
         ROUND(CAST(len(list_filter(string_split(text, ' '),
                                    x -> regexp_matches(x, '[a-zA-Z]')))
                    AS DOUBLE)
               / len(string_split(text, ' ')), 4) AS alpha_frac
  FROM documents WHERE len(string_split(text, ' ')) > 0
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_wlen, alpha_frac,
       (n_words BETWEEN 10 AND 100000)
         AND (mean_wlen BETWEEN 2 AND 10)
         AND (alpha_frac >= 0.8) AS pass_gopher
FROM m
""",
    doc="Gopher quality rules (the published rule-based pretraining "
    "gate): word count in [10, 1e5], mean word length in [2, 10], and "
    ">= 80% of words containing an alphabetic character; emits the "
    "per-document metrics plus the combined pass flag so thresholds "
    "stay auditable.",
)
def q_llm_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    n_words = F.size(t)
    mean_wlen = F.round(
        F.length(F.regexp_replace("text", " ", "")).cast("double") / n_words,
        4,
    )
    alpha_frac = F.round(
        F.size(F.expr("filter(split(text, ' '), x -> x rlike '[a-zA-Z]')"))
        .cast("double")
        / n_words,
        4,
    )
    out = docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        mean_wlen.alias("mean_wlen"),
        alpha_frac.alias("alpha_frac"),
    ).filter(F.col("n_words") > 0)
    return out.withColumn(
        "pass_gopher",
        F.col("n_words").between(10, 100000)
        & F.col("mean_wlen").between(2, 10)
        & (F.col("alpha_frac") >= 0.8),
    )


#: RAG chunking geometry: windows of `_CHUNK` tokens every `_STRIDE`
#: (overlap = _CHUNK - _STRIDE).
_CHUNK, _STRIDE = 32, 24


@register(
    "q_llm_chunk",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), starts AS (
  SELECT doc_id, t, len(t) AS n,
         unnest(range(1, len(t) + 1, {_STRIDE})) AS s
  FROM toks WHERE len(t) > 0
)
SELECT doc_id,
       CAST((s - 1) // {_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(s AS BIGINT) AS start_tok,
       CAST(LEAST({_CHUNK}, n - s + 1) AS BIGINT) AS n_tok,
       md5(array_to_string(t[s:LEAST(s + {_CHUNK - 1}, n)], ' '))
         AS chunk_hash
FROM starts
""",
    doc="RAG-style chunking: each document split into overlapping "
    f"{_CHUNK}-token windows every {_STRIDE} tokens (8-token overlap "
    "so retrieval never loses a boundary sentence); emits chunk "
    "geometry plus an md5 of each chunk's text as the value contract.",
    scale_notes="Pure per-row expansion (sequence + slice + explode "
    "inside codegen) — no shuffle, no Python; output rows scale by "
    "x(1 + 1/3) of input tokens, the overlap factor.",
)
def q_llm_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") > 0
    )
    st = toks.select(
        "doc_id",
        F.col("t"),
        F.size("t").alias("n"),
        F.explode(
            F.sequence(F.lit(1), F.size("t"), F.lit(_STRIDE))
        ).alias("s"),
    )
    return st.select(
        "doc_id",
        ((F.col("s") - 1) / _STRIDE).cast("bigint").alias("chunk_idx"),
        F.col("s").cast("bigint").alias("start_tok"),
        F.least(F.lit(_CHUNK), F.col("n") - F.col("s") + 1)
        .cast("bigint")
        .alias("n_tok"),
        F.md5(F.concat_ws(" ", F.slice(F.col("t"), F.col("s"), F.lit(_CHUNK))))
        .alias("chunk_hash"),
    )


@register(
    "q_llm_domain_mix",
    oracle=f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
         COUNT(*) AS n_sources
  FROM per_src
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       {signed_ratio_round_sql('n_docs', 'total', 6, '//')} AS actual_share,
       {signed_ratio_round_sql('1', 'n_sources', 6, '//')} AS target_share,
       {signed_ratio_round_sql('total', 'n_sources * n_docs', 4, '//')}
         AS weight
FROM per_src CROSS JOIN tot
""",
    doc="Domain-mixture reweighting (the data-mixing step of corpus "
    "assembly): per-source document share vs a uniform target mix, "
    "emitting the sampling weight (target/actual) each source needs "
    "for the next epoch. Swap the uniform target for a learned one "
    "(DoReMi-style) without changing the plan shape.",
    scale_notes="Two-phase count per source (partial map-side, tiny "
    "shuffle of one row per source), then a 1-row total broadcast — "
    "cost is one corpus scan regardless of SF.",
)
def q_llm_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per_src.agg(
        F.sum("n_docs").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    # exact integer half-up (rule-8 batch-2 sweep): all three
    # outputs are pure rationals of bigint counts (weight =
    # total / (n_sources * n_docs))
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.expr(
            signed_ratio_round_sql("n_docs", "total", 6, "div")
        ).alias("actual_share"),
        F.expr(
            signed_ratio_round_sql("1", "n_sources", 6, "div")
        ).alias("target_share"),
        F.expr(
            signed_ratio_round_sql("total", "n_sources * n_docs", 4, "div")
        ).alias("weight"),
    )


@register(
    "q_llm_lang_entropy",
    oracle="""
WITH c AS (
  SELECT source, lang, COUNT(*) AS n
  FROM documents GROUP BY source, lang
), s AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS n_src FROM c GROUP BY source
), terms AS (
  SELECT c.source, c.n, s.n_src,
         CAST(ROUND(-(CAST(c.n AS DOUBLE) / s.n_src)
                    * ln(CAST(c.n AS DOUBLE) / s.n_src), 6)
              AS DECIMAL(18,6)) AS term
  FROM c JOIN s ON c.source = s.source
)
SELECT source, CAST(MAX(n_src) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_langs,
       ROUND(CAST(SUM(term) AS DOUBLE), 4) AS lang_entropy
FROM terms GROUP BY source
""",
    doc="Per-source language-distribution entropy (corpus diversity "
    "dashboard metric): H = -sum p ln p over the source's language "
    "shares. Per-language terms are rounded to 6 decimals and summed "
    "as DECIMAL so the entropy is independent of accumulation order "
    "(§7.4 exact-avg discipline).",
)
def q_llm_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    s = c.groupBy("source").agg(F.sum("n").cast("bigint").alias("n_src"))
    p = F.col("n").cast("double") / F.col("n_src")
    terms = c.join(s, "source").select(
        "source",
        "n_src",
        F.round(-p * F.log(p), 6).cast("decimal(18,6)").alias("term"),
    )
    return terms.groupBy("source").agg(
        F.max("n_src").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.round(F.sum("term").cast("double"), 4).alias("lang_entropy"),
    )


@register(
    "q_llm_bpe_pairs",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), pairs AS (
  SELECT unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS pair
  FROM toks WHERE len(t) >= 2
), counted AS (
  SELECT pair, COUNT(*) AS cnt FROM pairs GROUP BY pair
)
SELECT pair, cnt,
       CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS INT) AS rk
FROM counted
ORDER BY cnt DESC, pair LIMIT 20
""",
    doc="BPE merge-candidate statistics (the inner loop of "
    "byte-pair-encoding tokenizer TRAINING): count every adjacent "
    "token pair across the corpus and rank the top 20 — the highest "
    "count is exactly the pair a BPE trainer would merge next. "
    "Repeating this after applying the merge yields the full BPE "
    "vocabulary; the counting step is the distributed 99% of that "
    "loop.",
    scale_notes="One shuffle carrying (pair, partial-count) after "
    "map-side combine — vocabulary^2-bounded in theory but "
    "corpus-frequency-truncated in practice; the top-20 compiles to "
    "TakeOrderedAndProject (per-partition heaps, no global sort). "
    "Tokenizer training at 100 TB samples the corpus first; the "
    "operator shape is identical on the sample.",
)
def q_llm_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("t"))
    pairs = toks.select(F.explode(word_ngrams("t", 2)).alias("pair"))
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
    return (
        counted.withColumn("rk", F.row_number().over(w).cast("int"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(20)
    )


@register(
    "q_llm_keywords",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token
), scored AS (
  SELECT tf.doc_id, tf.token, (tf.tf * 1000000) // df.df AS score_ppm
  FROM tf JOIN df USING (token)
), ranked AS (
  SELECT doc_id, token, score_ppm,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY score_ppm DESC, token) AS INT)
           AS rk
  FROM scored
)
SELECT doc_id, token, score_ppm, rk FROM ranked WHERE rk <= 3
""",
    doc="Per-document keyword extraction: rank each document's tokens "
    "by a TF/DF relevance score and keep the top 3 — the classic "
    "tf-idf keyword surface, with the idf expressed as FIXED-POINT "
    "integer division (tf * 1e6 // df, same ranking as tf*log(N/df) "
    "for fixed tf since 1/df and log(N/df) are co-monotone) so both "
    "engines agree bit-for-bit with no transcendental in sight.",
    scale_notes="tf is a (doc, token) shuffle with map-side combine; "
    "df is vocabulary-sized and joined WITHOUT a hint (AQE broadcasts "
    "while it fits, shuffle-joins beyond — the q_llm_tfidf policy). "
    "The per-doc top-3 compiles to WindowGroupLimit: rank state never "
    "exceeds 3 rows per doc on any executor.",
)
def q_llm_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(
        F.count_distinct("doc_id").alias("df")
    )
    scored = tf.join(df, "token").select(
        "doc_id",
        "token",
        F.expr("(tf * 1000000) DIV df").alias("score_ppm"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_ppm").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "score_ppm", "rk")
    )


#: DSIR hashed-feature bucket count and Laplace smoothing width.
_DSIR_BUCKETS = 64


@register(
    "q_llm_dsir",
    oracle=f"""
WITH toks AS (
  SELECT d.doc_id, d.lang,
         CAST(('0x' || substr(md5(t.token), 1, 8)) AS BIGINT)
           % {_DSIR_BUCKETS} AS b
  FROM documents d,
       unnest(string_split(d.text, ' ')) AS t(token)
), ct AS (
  SELECT b, COUNT(*) AS n_t FROM toks WHERE lang = 'en' GROUP BY b
), cr AS (
  SELECT b, COUNT(*) AS n_r FROM toks GROUP BY b
), tot AS (
  SELECT (SELECT COUNT(*) FROM toks WHERE lang = 'en') AS nt,
         (SELECT COUNT(*) FROM toks) AS nr
), lr AS (
  SELECT cr.b,
         CAST(ROUND(ln(
           CAST((COALESCE(ct.n_t, 0) + 1) * (tot.nr + {_DSIR_BUCKETS})
                AS DOUBLE)
           / ((cr.n_r + 1) * (tot.nt + {_DSIR_BUCKETS}))
         ), 6) AS DECIMAL(18,6)) AS logratio
  FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot
)
SELECT toks.doc_id AS doc_id,
       COUNT(*) AS n_toks,
       CAST(SUM(lr.logratio) * 1000000 AS BIGINT) AS dsir_weight_micro
FROM toks JOIN lr USING (b)
GROUP BY toks.doc_id
""",
    doc="DSIR-style importance weighting (the published data-selection-"
    "via-importance-resampling recipe): tokens hash into "
    f"{_DSIR_BUCKETS} feature buckets; the target distribution is the "
    "English sub-corpus, the raw distribution the whole corpus; each "
    "document scores the sum over its tokens of the Laplace-smoothed "
    "log-ratio log(p_target(b)/p_raw(b)). High weight = looks like "
    "the target; resampling by this weight tilts a raw crawl toward "
    "the target domain. Per-bucket log-ratios are exact-integer "
    "rationals fed to one ln, rounded to 6 decimals and summed as "
    "DECIMAL (the q_llm_perplexity discipline); the per-doc score is "
    "emitted micro-scaled as an exact BIGINT so no final float "
    "rounding can tie-break differently across engines.",
    scale_notes=f"The 'model' is a {_DSIR_BUCKETS}-row log-ratio "
    "table — bounded by construction (hashed feature space, not "
    "vocabulary), so its join to the token stream broadcasts safely "
    "at ANY corpus size; the only corpus-volume shuffle is the "
    "per-doc sum. This boundedness is the reason DSIR hashes "
    "features instead of using raw n-grams.",
)
def q_llm_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", "lang",
                    F.explode(F.split("text", " ")).alias("token"))
        .select(
            "doc_id",
            "lang",
            (
                md5_prefix_int("token", 8) % _DSIR_BUCKETS
            ).alias("b"),
        )
    )
    ct = toks.filter(F.col("lang") == "en").groupBy("b").agg(
        F.count(F.lit(1)).alias("n_t")
    )
    cr = toks.groupBy("b").agg(F.count(F.lit(1)).alias("n_r"))
    tot = toks.agg(
        F.sum((F.col("lang") == "en").cast("bigint")).alias("nt"),
        F.count(F.lit(1)).alias("nr"),
    )
    lr = (
        cr.join(ct, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("n_t"), F.lit(0)) + 1)
                        * (F.col("nr") + _DSIR_BUCKETS)
                    ).cast("double")
                    / ((F.col("n_r") + 1) * (F.col("nt") + _DSIR_BUCKETS))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("logratio"),
        )
    )
    # lr is bounded at _DSIR_BUCKETS rows by construction -> safe hint.
    return (
        toks.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            (F.sum("logratio") * 1000000)
            .cast("bigint")
            .alias("dsir_weight_micro"),
        )
    )


@register(
    "q_llm_dedup_weights",
    oracle="""
WITH cl AS (
  SELECT md5(text) AS h, COUNT(*) AS cluster_size
  FROM documents GROUP BY md5(text)
)
SELECT d.doc_id AS doc_id,
       cl.cluster_size AS cluster_size,
       1000000 // cl.cluster_size AS weight_ppm
FROM documents d JOIN cl ON md5(d.text) = cl.h
""",
    doc="Soft deduplication (the published reweight-instead-of-drop "
    "recipe): exact-duplicate clusters by text hash, each member "
    "weighted 1/cluster_size (fixed-point ppm) so a document "
    "duplicated k times contributes one document's worth of gradient "
    "in expectation — the training-loss-side alternative to "
    "q_llm_exact_dedup's hard drop, preserving corpus coverage while "
    "removing duplication bias.",
    scale_notes="One shuffle on the 16-byte text hash carrying "
    "(hash, partial-count); the join back to documents reuses the "
    "same hash partitioning. Weights are integer ppm — no float in "
    "the output. Generalizes to near-dup clusters by swapping the "
    "hash for q_llm_dedup_components' component id.",
)
def q_llm_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    cl = docs.groupBy("h").agg(F.count(F.lit(1)).alias("cluster_size"))
    return docs.join(cl, "h").select(
        "doc_id",
        "cluster_size",
        F.expr("1000000 DIV cluster_size").alias("weight_ppm"),
    )


# --- round-6 second batch: markup stripping, encoding audit, sentence
# --- statistics, token-budget selection ---------------------------------

#: U+FFFD replacement char + BEL, the corruption marker appended to
#: every 0-mod-13 document by q_llm_encoding_check (Spark's char() is
#: mod-256, so the literal codepoint is embedded from Python in BOTH
#: engines rather than computed in SQL).
_REPL = "�"
_CORRUPT_MOD = 13
#: Control-character class (C0 minus NUL, which parquet text never
#: holds) — raw chars embedded identically in both regex dialects.
_CTRL_CLASS = "[" + chr(1) + "-" + chr(31) + "]"

_SENT_SPLIT = "[.!?]+"

#: Token budget for q_llm_token_budget, in whitespace tokens: about
#: half the sf0.01 corpus, so the greedy cut is exercised at every SF.
_BUDGET_TOKENS = 10000
#: Quality-ratio bins for the parallel prefix-sum formulation.
_BUDGET_BINS = 1000


@register(
    "q_llm_strip_markup",
    oracle="""
WITH wrapped AS (
  SELECT doc_id,
         '<p id="' || doc_id || '">' || replace(text, ' and ', ' &amp; ')
           || '</p>' AS w
  FROM documents
), clean AS (
  SELECT doc_id, w,
         trim(regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(w,
              '<[^>]*>', ' ', 'g'),
              '&amp;', '&', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
              ' +', ' ', 'g')) AS c
  FROM wrapped
)
SELECT doc_id, length(w) AS n_wrapped, length(c) AS n_clean,
       substr(c, 1, 80) AS clean_prefix
FROM clean
""",
    doc="HTML/boilerplate stripping (the first transform every "
    "web-crawl curation pipeline applies): each document is "
    "deterministically wrapped in markup with an entity-encoded "
    "conjunction (so the fixture exercises real tag and entity "
    "machinery), then cleaned — tags to spaces, &amp;/&lt;/&gt; "
    "decoded, whitespace collapsed, trimmed. Emits before/after "
    "lengths and the cleaned prefix.",
    scale_notes="Zero-shuffle codegen'd projection — five regexp "
    "passes fuse into one WholeStageCodegen stage over the pruned "
    "(doc_id, text) scan. At 100 TB this is scan-bound; the regex "
    "set is fixed (no vocabulary state), so executors stream.",
)
def q_llm_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    wrapped = F.concat(
        F.lit('<p id="'),
        F.col("doc_id").cast("string"),
        F.lit('">'),
        F.replace(F.col("text"), F.lit(" and "), F.lit(" &amp; ")),
        F.lit("</p>"),
    )
    c = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(wrapped, "<[^>]*>", " "),
                        "&amp;",
                        "&",
                    ),
                    "&lt;",
                    "<",
                ),
                "&gt;",
                ">",
            ),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.length(wrapped).alias("n_wrapped"),
        F.length(c).alias("n_clean"),
        F.substring(c, 1, 80).alias("clean_prefix"),
    )


@register(
    "q_llm_encoding_check",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_CORRUPT_MOD} = 0
              THEN text || '{_REPL}' || chr(7) ELSE text END AS x
  FROM documents
)
SELECT doc_id,
       length(x) AS n_chars,
       strlen(x) AS n_bytes,
       strlen(x) - length(x) AS n_extra_bytes,
       length(x) - length(regexp_replace(x,
         '[' || chr(1) || '-' || chr(31) || ']', '', 'g')) AS n_ctrl,
       contains(x, '{_REPL}') AS has_replacement,
       (strlen(x) = length(x)
        AND length(x) = length(regexp_replace(x,
              '[' || chr(1) || '-' || chr(31) || ']', '', 'g'))
        AND NOT contains(x, '{_REPL}')) AS is_clean
FROM t
""",
    doc="Encoding-health audit (the mojibake/corruption gate run "
    "before tokenization): every 0-mod-13 document is "
    "deterministically corrupted with U+FFFD + a control byte, then "
    "each document reports char count, UTF-8 byte count, "
    "multi-byte overhead, C0-control count, replacement-char "
    "presence, and the aggregate is_clean verdict the filter "
    "stage keys on.",
    scale_notes="Zero-shuffle projection; byte vs char length and "
    "the control-class regex are all codegen'd. The corruption "
    "injection exists only to make the fixture exercise the "
    "detectors — production input arrives pre-corrupted.",
)
def q_llm_encoding_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    x = F.when(
        F.col("doc_id") % _CORRUPT_MOD == 0,
        F.concat(F.col("text"), F.lit(_REPL + "\x07")),
    ).otherwise(F.col("text"))
    no_ctrl = F.regexp_replace(x, F.lit(_CTRL_CLASS), F.lit(""))
    n_chars = F.length(x)
    n_bytes = F.octet_length(x)
    n_ctrl = n_chars - F.length(no_ctrl)
    has_rep = F.contains(x, F.lit(_REPL))
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_bytes.alias("n_bytes"),
        (n_bytes - n_chars).alias("n_extra_bytes"),
        n_ctrl.alias("n_ctrl"),
        has_rep.alias("has_replacement"),
        ((n_bytes == n_chars) & (n_ctrl == 0) & ~has_rep).alias("is_clean"),
    )


@register(
    "q_llm_sentences",
    oracle=f"""
WITH s AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '{_SENT_SPLIT}'),
                     x -> trim(x) <> '') AS sents
  FROM documents
)
SELECT doc_id,
       len(sents) AS n_sentences,
       ROUND(CAST(list_sum(list_transform(sents,
               x -> length(trim(x)))) AS DOUBLE) / len(sents), 4)
         AS avg_sent_chars,
       list_max(list_transform(sents, x -> length(trim(x))))
         AS max_sent_chars
FROM s
WHERE len(sents) >= 1
""",
    doc="Sentence segmentation statistics (the document-structure "
    "profile quality classifiers consume): sentences split on "
    "terminal punctuation runs, empties dropped, per document the "
    "sentence count, mean trimmed length, and longest sentence — "
    "entirely with array higher-order functions, no explode shuffle.",
    scale_notes="Zero-shuffle projection: split/filter/transform/"
    "aggregate all evaluate per-row inside codegen. Array state is "
    "bounded by document length; nothing leaves the task.",
)
def q_llm_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    sents = F.expr(
        f"filter(split(text, '{_SENT_SPLIT}'), x -> trim(x) != '')"
    )
    return (
        docs.select("doc_id", sents.alias("sents"))
        .filter(F.size("sents") >= 1)
        .select(
            "doc_id",
            F.size("sents").alias("n_sentences"),
            F.round(
                F.expr(
                    "aggregate(sents, 0, (a, x) -> a + length(trim(x)))"
                ).cast("double")
                / F.size("sents"),
                4,
            ).alias("avg_sent_chars"),
            F.expr(
                "array_max(transform(sents, x -> length(trim(x))))"
            ).alias("max_sent_chars"),
        )
    )


@register(
    "q_llm_token_budget",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS ratio
  FROM documents
), binned AS (
  SELECT *, CAST(FLOOR(ratio * {_BUDGET_BINS}) AS INT) AS b FROM d
), bins AS (
  SELECT b, SUM(n_tokens) AS bt FROM binned GROUP BY b
), above AS (
  SELECT b, COALESCE(SUM(bt) OVER (ORDER BY b DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above_t
  FROM bins
), w AS (
  SELECT binned.doc_id, binned.n_tokens, binned.ratio, above.above_t,
         SUM(binned.n_tokens) OVER (PARTITION BY binned.b
           ORDER BY binned.ratio DESC, binned.doc_id) AS in_bin_cum
  FROM binned JOIN above ON binned.b = above.b
)
SELECT doc_id, n_tokens, ROUND(ratio, 4) AS quality_ratio,
       CAST(above_t + in_bin_cum AS BIGINT) AS cum_tokens
FROM w WHERE above_t + in_bin_cum <= {_BUDGET_TOKENS}
""",
    doc="Token-budget corpus selection: greedy take-while over "
    "documents ordered by quality (type-token ratio desc, doc_id "
    f"tie-break) until the {_BUDGET_TOKENS}-token budget is spent — "
    "how a pretraining mix fills a fixed token allocation from the "
    "best material first. Computed WITHOUT a global-order running "
    "sum: quality is binned, the bounded per-bin token totals give "
    "each bin's prefix offset, and the within-bin running sum is "
    "partitioned by bin — the union is exactly the greedy prefix "
    "because the bin index is monotone in the ratio.",
    scale_notes=f"The only global structure is the {_BUDGET_BINS}-row "
    "bin ledger (bounded, driver-safe); per-bin windows run "
    "partition-parallel. This is the scalable form of 'ORDER BY "
    "quality LIMIT budget' — no single-partition sort of the corpus, "
    "and the same shape serves any take-while-threshold selection.",
)
def q_llm_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    d = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("ratio"),
    ).withColumn(
        "b", F.floor(F.col("ratio") * _BUDGET_BINS).cast("int")
    )
    bins = d.groupBy("b").agg(F.sum("n_tokens").alias("bt"))
    w_above = (
        Window.orderBy(F.desc("b"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    above = bins.select(
        "b", F.coalesce(F.sum("bt").over(w_above), F.lit(0)).alias("above_t")
    )
    w_bin = (
        Window.partitionBy("b")
        .orderBy(F.desc("ratio"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w = d.join(above, "b").withColumn(
        "in_bin_cum", F.sum("n_tokens").over(w_bin)
    )
    return w.select(
        "doc_id",
        "n_tokens",
        F.round("ratio", 4).alias("quality_ratio"),
        (F.col("above_t") + F.col("in_bin_cum")).alias("cum_tokens"),
    ).filter(F.col("cum_tokens") <= _BUDGET_TOKENS)


#: Shingle width for the novelty score (matches the published
#: dedup-oriented 3-gram practice on short fixture docs).
_NOVEL_GRAM = 3


@register(
    "q_llm_gram_novelty",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - {_NOVEL_GRAM - 2}),
                i -> array_to_string(t[i:i + {_NOVEL_GRAM - 1}], ' '))) AS g
  FROM toks WHERE len(t) >= {_NOVEL_GRAM}
), first_seen AS (
  SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
)
, scored AS (
  SELECT grams.doc_id AS doc_id,
         COUNT(*) AS n_grams,
         COUNT(CASE WHEN first_seen.first_doc = grams.doc_id THEN 1 END)
           AS n_novel
  FROM grams JOIN first_seen USING (g)
  GROUP BY grams.doc_id
)
SELECT doc_id, n_grams, n_novel,
       {ratio_round4_sql('n_novel', 'n_grams', '//')} AS novelty
FROM scored
""",
    doc="N-gram novelty score (the marginal-information measure "
    "dedup-aware curation ranks by): a document's distinct "
    f"{_NOVEL_GRAM}-gram shingles are split into first-seen-here "
    "(no lower doc_id contains them) vs already-seen; novelty is "
    "the first-seen fraction. Heavily duplicated documents score "
    "near 0, fresh material near 1 — the streaming-order "
    "generalization of exact dedup.",
    scale_notes="Shuffles carry DISTINCT (gram, doc_id) pairs and "
    "the gram->first_doc ledger, never text. first_seen and the "
    "join back share the gram hash partitioning; the final "
    "aggregate reduces to one row per document. Same shape as "
    "q_llm_decontaminate with min() replacing the benchmark set.",
)
def q_llm_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    grams = toks.select(
        "doc_id", F.explode(word_ngrams("t", _NOVEL_GRAM)).alias("g")
    ).distinct()
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    joined = grams.join(first_seen, "g")
    novel = F.count(
        F.when(F.col("first_doc") == F.col("doc_id"), 1)
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.alias("n_novel"),
        )
        # exact integer half-up (rule-8 remedy): novelty ratios like
        # 57/800 sit exactly on the 4th-decimal half boundary where
        # the engines' float ROUNDs disagree
        .withColumn(
            "novelty",
            F.expr(ratio_round4_sql("n_novel", "n_grams", "div")),
        )
    )


@register(
    "q_llm_readability",
    oracle="""
WITH m AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> ''))
           AS n_words,
         len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                         x -> trim(x) <> '')) AS n_sents,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
  FROM documents
)
SELECT doc_id, n_words, n_sents, n_syll,
       ROUND(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
             - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4) AS flesch
FROM m WHERE n_words >= 1 AND n_sents >= 1
""",
    doc="Flesch reading-ease score per document (the readability "
    "gate educational-quality filters apply): 206.835 - 1.015 x "
    "words/sentences - 84.6 x syllables/words, with syllables "
    "approximated by vowel-group runs — the standard "
    "dictionary-free estimator. Degenerate docs (no words or no "
    "sentence boundary) are withheld.",
    scale_notes="Zero-shuffle codegen'd projection: both splits and "
    "the vowel-run extraction evaluate per-row; no vocabulary "
    "state, no explode. Scan-bound at any scale.",
)
def q_llm_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    n_words = F.size(F.expr("filter(split(text, ' '), x -> x != '')"))
    n_sents = F.size(
        F.expr("filter(split(text, '[.!?]+'), x -> trim(x) != '')")
    )
    n_syll = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), F.lit(0))
    )
    return (
        docs.select(
            "doc_id",
            n_words.alias("n_words"),
            n_sents.alias("n_sents"),
            n_syll.alias("n_syll"),
        )
        .filter((F.col("n_words") >= 1) & (F.col("n_sents") >= 1))
        .withColumn(
            "flesch",
            F.round(
                F.lit(206.835)
                - 1.015 * (F.col("n_words").cast("double") / F.col("n_sents"))
                - 84.6 * (F.col("n_syll").cast("double") / F.col("n_words")),
                4,
            ),
        )
    )


#: Blocking-prefix width for prefix-duplicate candidate generation.
#: Complete because every fixture document has >= 48 chars, so any
#: true (prefix, extension) pair shares its first 32 characters.
_PREFIX_BLOCK = 32
_PREFIX_EXT_MOD = 17


@register(
    "q_llm_prefix_dup",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         text || ' extended suffix content' AS text
  FROM documents WHERE doc_id % {_PREFIX_EXT_MOD} = 0
)
SELECT a.doc_id AS short_id, b.doc_id AS long_id,
       length(a.text) AS short_len, length(b.text) AS long_len
FROM corpus a JOIN corpus b
  ON substr(a.text, 1, {_PREFIX_BLOCK}) = substr(b.text, 1, {_PREFIX_BLOCK})
 AND a.doc_id <> b.doc_id
WHERE length(a.text) < length(b.text)
  AND substr(b.text, 1, length(a.text)) = a.text
""",
    doc="Prefix-duplication detection (truncation dups: the crawl "
    "artifact where one copy of a page is a cut-off prefix of "
    "another): pairs where one document's ENTIRE text is a strict "
    "prefix of another's. Candidates block on the first "
    f"{_PREFIX_BLOCK}-char key — provably complete since every "
    "document exceeds the block width, so a true pair always "
    "collides — then the exact prefix check filters. The fixture "
    f"is salted with '-extended' twins for every 0-mod-"
    f"{_PREFIX_EXT_MOD} document so the detector has true positives "
    "to find.",
    scale_notes="No all-pairs comparison anywhere: one hash shuffle "
    "on the 32-char block key, candidates bounded by per-block "
    "occupancy (near-dup clusters), and the exact check is a "
    "per-candidate substr. The asymmetric (containment) cousin of "
    "q_llm_exact_dedup's symmetric hash equality.",
)
def q_llm_prefix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    ext = docs.filter(F.col("doc_id") % _PREFIX_EXT_MOD == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extended suffix content")).alias(
            "text"
        ),
    )
    corpus = docs.select("doc_id", "text").unionAll(ext)
    a = corpus.select(
        F.col("doc_id").alias("short_id"),
        F.col("text").alias("ta"),
        F.substring("text", 1, _PREFIX_BLOCK).alias("blk"),
    )
    b = corpus.select(
        F.col("doc_id").alias("long_id"),
        F.col("text").alias("tb"),
        F.substring("text", 1, _PREFIX_BLOCK).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("short_id") != F.col("long_id"))
        .filter(F.length("ta") < F.length("tb"))
        .filter(F.col("tb").startswith(F.col("ta")))
        .select(
            "short_id",
            "long_id",
            F.length("ta").alias("short_len"),
            F.length("tb").alias("long_len"),
        )
    )


#: BPE training rounds for q_llm_bpe_train (fixed so the oracle can
#: unroll the identical iteration count).
_BPE_ROUNDS = 5


def _bpe_oracle_parts(rounds: int = _BPE_ROUNDS) -> tuple[str, list[str]]:
    """Unrolled DuckDB CTE chain for the iterative BPE trainer: each
    round recounts adjacent pairs on the partially-merged corpus, picks
    the (cnt DESC, pair ASC) argmax, and applies it with the
    double-space delimiter trick (tokens get private spaces, so a
    literal replace can never match inside a token and left-to-right
    non-overlap is exactly BPE merge order). Returns (cte_chain,
    per-round merge-table SELECTs) so both the train and apply oracles
    compose from the same parts."""
    parts = ["WITH d0 AS (SELECT doc_id, text AS txt FROM documents)"]
    selects = []
    for r in range(1, rounds + 1):
        prev = f"d{r - 1}"
        parts.append(f"""c{r} AS (
  SELECT pair, COUNT(*) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i + 1])) AS pair
    FROM (SELECT string_split(txt, ' ') AS t FROM {prev}) s
    WHERE len(t) >= 2
  ) p
  GROUP BY pair
  ORDER BY cnt DESC, pair ASC LIMIT 1
)""")
        parts.append(f"""d{r} AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(' ' || replace(txt, ' ', '  ') || ' ',
                   ' ' || replace(c{r}.pair, ' ', '  ') || ' ',
                   ' ' || replace(c{r}.pair, ' ', '+') || ' '),
           ' +', ' ', 'g')) AS txt
  FROM {prev} CROSS JOIN c{r}
)""")
        parts.append(f"""t{r} AS (
  SELECT CAST(SUM(len(string_split(txt, ' '))) AS BIGINT) AS n
  FROM d{r}
)""")
        selects.append(
            f"SELECT {r} AS step, pair, cnt, t{r}.n AS tokens_after "
            f"FROM c{r} CROSS JOIN t{r}"
        )
    return ",\n".join(parts), selects


def _bpe_train_oracle(rounds: int = _BPE_ROUNDS) -> str:
    ctes, selects = _bpe_oracle_parts(rounds)
    return ctes + "\n" + "\nUNION ALL\n".join(selects)


def _bpe_best(docs: DataFrame) -> DataFrame:
    """One round's merge selection: count adjacent pairs over the
    current corpus, pick the (cnt DESC, pair ASC) argmax (1 row)."""
    counted = (
        docs.select(F.split("txt", " ").alias("t"))
        .select(F.explode(word_ngrams("t", 2)).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counted.orderBy(
        F.col("cnt").desc(), F.col("pair").asc()
    ).limit(1)


def _bpe_rewrite(docs: DataFrame, best: DataFrame) -> DataFrame:
    """Apply one merge corpus-wide (double-space delimiter trick); the
    1-row merge table travels as a broadcast crossJoin, no driver pull.
    The merge's (pair, cnt) ride along as constant columns on every
    rewritten row, so a checkpoint of the rewrite also materializes the
    round's merge-table entry.  An empty merge table (no 2-token docs)
    empties the corpus."""
    spaced = F.concat(
        F.lit(" "), F.replace(F.col("txt"), F.lit(" "), F.lit("  ")),
        F.lit(" "),
    )
    pat = F.concat(
        F.lit(" "),
        F.replace(F.col("pair"), F.lit(" "), F.lit("  ")),
        F.lit(" "),
    )
    rep = F.concat(
        F.lit(" "),
        F.replace(F.col("pair"), F.lit(" "), F.lit("+")),
        F.lit(" "),
    )
    txt = F.trim(
        F.regexp_replace(F.replace(spaced, pat, rep), " +", " ")
    ).alias("txt")
    return docs.crossJoin(F.broadcast(best)).select(
        "doc_id", txt, "pair", "cnt"
    )


def _bpe_rounds(docs: DataFrame) -> Iterator[DataFrame]:
    """The one BPE training loop, shared by q_llm_bpe_train and
    q_llm_apply_bpe so train and apply can never desynchronize: for
    each of the _BPE_ROUNDS merges, yield the checkpointed
    (doc_id, txt, pair, cnt) rewrite of the (doc_id, txt) corpus.

    Each round's rewrite is materialized: the round's merge row, its
    token recount AND the next round's pair count all branch off it,
    so without a checkpoint every branch re-executes the whole rewrite
    chain (1+2+..+rounds corpus passes — isolated sf0.1 medians 4.69 s
    -> 3.57 s train, 4.40 -> 3.62 apply with checkpoints).  Carrying
    (pair, cnt) in the checkpoint lets the train output read the merge
    table back from the materialized rows instead of re-running the
    pair-count + argmax per round (r12 profile: executor CPU 6.2 s ->
    2.1 s at sf0.1).  Blocks stay alive until the consumer finishes
    (bench/tests release per query); at real scale trainers run on a
    q_sample_hash sample, so the snapshots are sample-sized."""
    for _ in range(_BPE_ROUNDS):
        rewritten = _bpe_rewrite(docs, _bpe_best(docs)).localCheckpoint()
        yield rewritten
        docs = rewritten.select("doc_id", "txt")


@register(
    "q_llm_bpe_train",
    oracle=_bpe_train_oracle(),
    doc="Iterative BPE tokenizer TRAINING, 5 full merge rounds, "
    "exact-oracled: each round recounts adjacent word-pair "
    "frequencies over the PARTIALLY-MERGED corpus (q_llm_bpe_pairs "
    "is one round's counting step), selects the (count DESC, pair "
    "ASC) argmax, and applies the merge corpus-wide. Merge "
    "application uses the double-space delimiter trick — every "
    "token gets private surrounding spaces, so a literal "
    "left-to-right replace matches exactly BPE's non-overlapping "
    "merge order and can never match inside a token. Output: the "
    "learned merge table (step, pair, count at selection time, "
    "corpus token count after the merge) — the artifact a "
    "tokenizer trainer persists.",
    scale_notes="Five map-combined (pair, count) shuffles + five "
    "narrow corpus rewrites; the argmax is a 1-row "
    "TakeOrderedAndProject crossJoin-broadcast back into the "
    "rewrite — NO driver collect, the merge value travels inside "
    "the plan. Real trainers run thousands of rounds on a corpus "
    "SAMPLE (q_sample_hash) then apply the frozen merge table in "
    "one pass; the per-round physics is identical.",
)
def q_llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("txt")
    )
    # one global agg per round over its checkpoint: the merge row +
    # post-merge token count.  An empty round materializes zero rows,
    # so first(pair) is NULL and the filter drops the step.
    out_steps = [
        rnd.groupBy()
        .agg(
            F.first("pair").alias("pair"),
            F.first("cnt").alias("cnt"),
            F.sum(F.size(F.split("txt", " ")))
            .cast("bigint")
            .alias("tokens_after"),
        )
        .filter(F.col("pair").isNotNull())
        .select(F.lit(step).alias("step"), "pair", "cnt", "tokens_after")
        for step, rnd in enumerate(_bpe_rounds(docs), start=1)
    ]
    out = out_steps[0]
    for s in out_steps[1:]:
        out = out.unionByName(s)
    return out


def _bpe_apply_oracle(rounds: int = _BPE_ROUNDS) -> str:
    """Per-doc compression stats after applying the trained merge
    table: the same CTE chain as training, joined back to the
    original corpus."""
    ctes, _selects = _bpe_oracle_parts(rounds)
    return f"""{ctes}
SELECT d0.doc_id,
       len(string_split(d0.txt, ' ')) AS n_before,
       len(string_split(d{rounds}.txt, ' ')) AS n_after,
       len(string_split(d0.txt, ' '))
         - len(string_split(d{rounds}.txt, ' ')) AS n_merged
FROM d0 JOIN d{rounds} USING (doc_id)
"""


@register(
    "q_llm_apply_bpe",
    oracle=_bpe_apply_oracle(),
    doc="BPE merge-table APPLICATION (the inference side of "
    "q_llm_bpe_train): the 5 trained merges applied corpus-wide, "
    "reported as per-document compression — tokens before, after, "
    "and absorbed by merges. Together the train/apply pair is the "
    "full tokenizer lifecycle: train on a sample, freeze the merge "
    "table, apply in one distributed pass.",
    scale_notes="Application is embarrassingly parallel: the frozen "
    "merge list is a <=rounds-row broadcast and each document "
    "rewrites independently (narrow, zero shuffle beyond the "
    "training passes that produce the table). At 100 TB the merge "
    "table is trained once on a q_sample_hash sample and the apply "
    "pass is scan-bound.",
)
def q_llm_apply_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs0 = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("txt0")
    )
    *_, last = _bpe_rounds(docs0.select("doc_id", F.col("txt0").alias("txt")))
    n0 = F.size(F.split("txt0", " "))
    n1 = F.size(F.split("txt", " "))
    return docs0.join(last.select("doc_id", "txt"), "doc_id").select(
        "doc_id",
        n0.cast("bigint").alias("n_before"),
        n1.cast("bigint").alias("n_after"),
        (n0 - n1).cast("bigint").alias("n_merged"),
    )


@register(
    "q_llm_vocab_coverage",
    oracle=f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), ledger AS (
  SELECT token, COUNT(*) AS cnt FROM tok WHERE token <> ''
  GROUP BY token
), ranked AS (
  SELECT token, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rnk,
         SUM(cnt) OVER (ORDER BY cnt DESC, token ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
  FROM ledger
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS vocab
  FROM ledger
)
SELECT k, LEAST(k, tot.vocab) AS top_n,
       CAST(r.cum AS BIGINT) AS covered_occurrences,
       tot.total AS total_occurrences,
       {signed_ratio_round_sql('r.cum', 'tot.total', 4, '//')} AS coverage,
       {signed_ratio_round_sql('tot.total - r.cum', 'tot.total', 4, '//')} AS oov_rate
FROM (VALUES (CAST(10 AS BIGINT)), (100), (1000), (10000)) ks(k)
CROSS JOIN tot
JOIN ranked r ON r.rnk = LEAST(ks.k, tot.vocab)
ORDER BY k
""",
    doc="Vocabulary coverage curve: for top-k cutoffs "
    "k in (10, 100, 1000, 10000), the share of all token "
    "occurrences covered by the k most frequent tokens and the "
    "complementary OOV rate — the standard tokenizer-vocabulary "
    "sizing diagnostic (how big must the vocab be before <x% of "
    "running text falls out). Rank ties break on the token string "
    "so the cumulative ledger is deterministic; cutoffs beyond the "
    "observed vocabulary clamp to the full vocab (coverage 1).",
    scale_notes="One token-count shuffle (map-combined partials, "
    "never text) to the vocabulary ledger; the ranked cumulative "
    "window runs over the ledger, and the curve probe joins a "
    "constant 4-row k-axis on rank equality. At 100 TB the "
    "single-partition ledger window becomes a two-level "
    "range-partitioned ranking (partial cumsums + offset "
    "broadcast) — the q_agg_gini machinery.",
)
def q_llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    ledger = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    ranked = ledger.select(
        "cnt",
        F.row_number().over(w).alias("rnk"),
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("cum"),
    )
    tot = ledger.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    ks = F.explode(
        F.array(*[F.lit(k).cast("bigint") for k in (10, 100, 1000, 10000)])
    ).alias("k")
    axis = tot.select(ks, "total", "vocab")
    return (
        axis.join(ranked, F.col("rnk") == F.least("k", "vocab"))
        .select(
            "k",
            F.least("k", "vocab").alias("top_n"),
            F.col("cum").alias("covered_occurrences"),
            F.col("total").alias("total_occurrences"),
            # exact integer half-up (rule-8 batch-2 sweep)
            F.expr(
                signed_ratio_round_sql("cum", "total", 4, "div")
            ).alias("coverage"),
            F.expr(
                signed_ratio_round_sql("total - cum", "total", 4, "div")
            ).alias("oov_rate"),
        )
        .orderBy("k")
    )


#: Span-corruption geometry: within every 9-token window, the 3-token
#: run at offsets 3..5 is masked (deterministic stand-in for T5's
#: ~15% random span sampling; one sentinel per span).
_SPAN_MOD = 9
_SPAN_OFFSETS = (3, 4, 5)


@register(
    "q_llm_span_corruption",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(t, (x, i) -> (i - 1) % {_SPAN_MOD}
                                           IN {_SPAN_OFFSETS}))
              AS BIGINT) AS n_masked,
         CAST(len(list_filter(t, (x, i) -> (i - 1) % {_SPAN_MOD}
                                           = {_SPAN_OFFSETS[0]}))
              AS BIGINT) AS n_spans,
         CAST(COALESCE(list_sum(list_transform(
                list_filter(t, (x, i) -> (i - 1) % {_SPAN_MOD}
                                         IN {_SPAN_OFFSETS}),
                x -> length(x))), 0) AS BIGINT) AS masked_chars
  FROM d
)
SELECT n_spans,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
       CAST(SUM(n_masked) AS BIGINT) AS tot_masked,
       CAST(SUM(masked_chars) AS BIGINT) AS tot_masked_chars,
       CAST(SUM(n_tokens - n_masked + n_spans) AS BIGINT)
         AS tot_input_tokens,
       CAST(SUM(n_masked + n_spans) AS BIGINT) AS tot_target_tokens,
       {signed_ratio_round_sql('CAST(SUM(n_masked) AS BIGINT)',
                               'CAST(SUM(n_tokens) AS BIGINT)', 4, '//')}
         AS mask_ratio
FROM m GROUP BY n_spans ORDER BY n_spans
""",
    doc="T5-style span corruption accounting: every 9-token window "
    "masks the 3-token run at offsets 3-5 (a deterministic proxy "
    "for the ~15% random-span sampling), each span replaced by ONE "
    "sentinel on the input side and emitted with its sentinel on "
    "the target side. Per span-count bucket: documents, masked "
    "token/char volume, resulting encoder-input and decoder-target "
    "lengths, and the realized mask ratio — the numbers that size "
    "a denoising pretraining batch. Indexed-lambda list ops "
    "(0-based in Spark, 1-based in DuckDB, offsets aligned).",
    scale_notes="Zero-shuffle codegen'd higher-order functions over "
    "the token array (no explode — the array never leaves the "
    "row), then a spans-bucket ledger aggregation whose "
    "cardinality is max_doc_len/9. Scan-bound at any corpus "
    "size.",
)
def q_llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    offs = ", ".join(str(o) for o in _SPAN_OFFSETS)
    masked = f"filter(t, (x, i) -> i % {_SPAN_MOD} IN ({offs}))"
    m = docs.select(
        F.split("text", " ").alias("t")
    ).select(
        F.size("t").cast("bigint").alias("n_tokens"),
        F.expr(f"size({masked})").cast("bigint").alias("n_masked"),
        F.expr(
            f"size(filter(t, (x, i) -> i % {_SPAN_MOD}"
            f" = {_SPAN_OFFSETS[0]}))"
        )
        .cast("bigint")
        .alias("n_spans"),
        F.expr(f"aggregate({masked}, 0, (a, x) -> a + length(x))")
        .cast("bigint")
        .alias("masked_chars"),
    )
    return (
        m.groupBy("n_spans")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tot_tokens"),
            F.sum("n_masked").cast("bigint").alias("tot_masked"),
            F.sum("masked_chars").cast("bigint").alias("tot_masked_chars"),
            F.sum(
                F.col("n_tokens") - F.col("n_masked") + F.col("n_spans")
            )
            .cast("bigint")
            .alias("tot_input_tokens"),
            F.sum(F.col("n_masked") + F.col("n_spans"))
            .cast("bigint")
            .alias("tot_target_tokens"),
            # exact integer half-up (rule-8 batch-2 sweep)
            F.expr(
                signed_ratio_round_sql(
                    "sum(n_masked)", "sum(n_tokens)", 4, "div"
                )
            ).alias("mask_ratio"),
        )
        .orderBy("n_spans")
    )


#: Top pairs reported by the preference miner.
_PREF_TOP = 15


@register(
    "q_llm_preference_pairs",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, doc_id // 2 AS pair_id,
         CAST(len(list_distinct(list_filter(string_split(text, ' '),
                                            x -> x <> ''))) AS DOUBLE)
           / len(list_filter(string_split(text, ' '), x -> x <> ''))
           AS ttr
  FROM documents
), pairs AS (
  SELECT a.pair_id,
         CASE WHEN a.ttr > b.ttr OR (a.ttr = b.ttr
                                     AND a.doc_id < b.doc_id)
              THEN a.doc_id ELSE b.doc_id END AS chosen_id,
         CASE WHEN a.ttr > b.ttr OR (a.ttr = b.ttr
                                     AND a.doc_id < b.doc_id)
              THEN b.doc_id ELSE a.doc_id END AS rejected_id,
         ABS(a.ttr - b.ttr) AS margin
  FROM scored a JOIN scored b
    ON a.pair_id = b.pair_id AND a.doc_id < b.doc_id
)
SELECT pair_id, chosen_id, rejected_id, ROUND(margin, 4) AS margin
FROM pairs
ORDER BY margin DESC, pair_id ASC
LIMIT {_PREF_TOP}
""",
    doc="Preference-pair construction for reward-model/DPO training: "
    "sibling documents (doc_id pair convention shared with "
    "q_llm_rouge) are ranked by lexical diversity (type-token "
    "ratio, the q_llm_ttr score) into (chosen, rejected) with the "
    "score margin; deterministic doc_id tie-break. Emits the "
    f"top-{_PREF_TOP} widest-margin pairs — the high-signal "
    "training examples a margin-weighted loss upweights.",
    scale_notes="Per-doc scoring is zero-shuffle HOF arithmetic; "
    "the sibling self-join is hash-keyed on pair_id (one shuffle "
    "of (pair, score) tuples, never text) and the head is "
    "TakeOrderedAndProject. Any learned scorer slots in by "
    "swapping the ttr expression.",
)
def q_llm_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    nonempty = "filter(split(text, ' '), x -> x <> '')"
    scored = docs.select(
        "doc_id",
        F.expr("doc_id DIV 2").alias("pair_id"),
        (
            F.expr(f"size(array_distinct({nonempty}))").cast("double")
            / F.expr(f"size({nonempty})")
        ).alias("ttr"),
    )
    a = scored.alias("a")
    b = scored.alias("b")
    better = (F.col("a.ttr") > F.col("b.ttr")) | (
        (F.col("a.ttr") == F.col("b.ttr"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    return (
        a.join(
            b,
            (F.col("a.pair_id") == F.col("b.pair_id"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.pair_id").alias("pair_id"),
            F.when(better, F.col("a.doc_id"))
            .otherwise(F.col("b.doc_id"))
            .alias("chosen_id"),
            F.when(better, F.col("b.doc_id"))
            .otherwise(F.col("a.doc_id"))
            .alias("rejected_id"),
            F.abs(F.col("a.ttr") - F.col("b.ttr")).alias("margin_raw"),
        )
        .select(
            "pair_id",
            "chosen_id",
            "rejected_id",
            F.round("margin_raw", 4).alias("margin"),
        )
        .orderBy(F.col("margin").desc(), F.col("pair_id").asc())
        .limit(_PREF_TOP)
    )


#: Planted boilerplate phrase (the crawl artifact q_llm_boilerplate
#: detects) appended to every 0-mod-7 document — the q_llm_prefix_dup
#: salting convention, so the detector has true positives at every SF.
_BOILER_SALT = " subscribe to our newsletter today for updates"


@register(
    "q_llm_boilerplate",
    oracle=f"""
WITH salted AS (
  SELECT doc_id, source,
         text || CASE WHEN doc_id % 7 = 0 THEN '{_BOILER_SALT}'
                      ELSE '' END AS text
  FROM documents
), nd AS (
  SELECT source, COUNT(*) AS n_docs FROM salted GROUP BY source
), toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM salted
), g AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(range(1, len(t) - 1),
                i -> array_to_string(t[i:i + 2], ' '))) AS gram
  FROM toks WHERE len(t) >= 3
), df AS (
  SELECT source, gram, CAST(COUNT(*) AS BIGINT) AS df
  FROM g GROUP BY source, gram
), ranked AS (
  SELECT source, gram, df,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY df DESC, gram ASC) AS rank
  FROM df WHERE df >= 3
)
SELECT r.source, CAST(r.rank AS BIGINT) AS rank, r.gram, r.df,
       nd.n_docs,
       {ratio_round4_sql('r.df', 'nd.n_docs', '//')} AS doc_share
FROM ranked r JOIN nd USING (source)
WHERE r.rank <= 10
""",
    doc="Boilerplate-lexicon mining (the CCNet/RefinedWeb removal "
    "list): per source domain, the 3-gram shingles appearing in >= 3 "
    "distinct documents of that source, top-10 by document frequency "
    "(gram tie-break) with the doc-share ratio — the corpus-level "
    "frequent-fragment complement of q_llm_gram_novelty's per-doc "
    "novelty score (that ranks documents; this extracts the shared "
    "fragments a cleaner would strip). Documents with doc_id % 7 = 0 "
    "carry a planted 'subscribe to our newsletter' phrase so every "
    "source has true boilerplate to find (the q_llm_prefix_dup "
    "salting convention).",
    scale_notes="Shuffles carry DISTINCT (source, gram, doc_id) "
    "pairs and the (source, gram) ledger, never documents; the df "
    "filter prunes before ranking, and the per-source top-10 is a "
    "WindowGroupLimit over the ledger. At 100 TB the same shape "
    "feeds the removal pass as a broadcast lexicon per domain shard.",
)
def q_llm_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(_BOILER_SALT)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    nd = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("t"))
    grams = toks.select(
        "doc_id", "source", F.explode(word_ngrams("t", 3)).alias("gram")
    ).distinct()
    df = grams.groupBy("source", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("df").desc(), F.col("gram").asc()
    )
    return (
        df.filter(F.col("df") >= 3)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 10)
        .join(F.broadcast(nd), "source")
        # exact integer half-up (rule-8 remedy): doc-shares like
        # 57/800 sit exactly on the 4th-decimal half boundary where
        # the engines' float ROUNDs disagree
        .select(
            "source",
            "rank",
            "gram",
            "df",
            "n_docs",
            F.expr(ratio_round4_sql("df", "n_docs", "div")).alias(
                "doc_share"
            ),
        )
    )


@register(
    "q_llm_distinct_n",
    oracle=f"""
WITH toks AS (
  SELECT source, string_split(text, ' ') AS t FROM documents
), u AS (
  SELECT source, unnest(t) AS g FROM toks
), b AS (
  SELECT source,
         unnest(list_transform(range(1, len(t)),
                i -> array_to_string(t[i:i + 1], ' '))) AS g
  FROM toks WHERE len(t) >= 2
), tr AS (
  SELECT source,
         unnest(list_transform(range(1, len(t) - 1),
                i -> array_to_string(t[i:i + 2], ' '))) AS g
  FROM toks WHERE len(t) >= 3
)
SELECT u.source,
       CAST(COUNT(u.g) AS BIGINT) AS n_unigrams,
       {signed_ratio_round_sql('COUNT(DISTINCT u.g)', 'COUNT(u.g)',
                               4, '//')} AS distinct_1,
       (SELECT {signed_ratio_round_sql('COUNT(DISTINCT b.g)',
                                       'COUNT(b.g)', 4, '//')}
        FROM b WHERE b.source = u.source) AS distinct_2,
       (SELECT {signed_ratio_round_sql('COUNT(DISTINCT tr.g)',
                                       'COUNT(tr.g)', 4, '//')}
        FROM tr WHERE tr.source = u.source) AS distinct_3
FROM u GROUP BY u.source ORDER BY u.source
""",
    doc="Corpus-level distinct-n diversity (Li et al. 2016's "
    "generation-diversity metric applied per source): the ratio of "
    "DISTINCT n-gram types to total n-gram tokens across all of a "
    "source's documents, for n = 1, 2, 3 — low distinct-n exposes "
    "mode collapse / templated content that per-document TTR "
    "(q_llm_ttr) cannot see because every individual document looks "
    "diverse while the source repeats itself. Completes the "
    "generation-eval family (q_llm_rouge/q_llm_bleu measure overlap "
    "with references; this measures self-repetition).",
    scale_notes="Three (source, gram) ledger aggregations — "
    "count-distinct shuffles carry grams once each (map-side "
    "combined). At 100 TB the distinct counts swap to the portable "
    "HLL sketch (q_agg_hll_portable) with identical plumbing.",
)
def q_llm_distinct_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.split("text", " ").alias("t"))

    def grams(n: int) -> DataFrame:
        return toks.select("source", F.explode(word_ngrams("t", n)).alias("g"))

    def ratio(df: DataFrame, out: str) -> DataFrame:
        # exact integer half-up (rule-8 batch-2 sweep)
        return (
            df.groupBy("source")
            .agg(
                F.count("g").cast("bigint").alias(f"_n_{out}"),
                F.countDistinct("g").cast("bigint").alias(f"_d_{out}"),
            )
            .withColumn(
                out,
                F.expr(
                    signed_ratio_round_sql(
                        f"_d_{out}", f"_n_{out}", 4, "div"
                    )
                ),
            )
            .drop(f"_d_{out}")
        )

    r1 = ratio(grams(1), "distinct_1").withColumnRenamed(
        "_n_distinct_1", "n_unigrams"
    )
    r2 = ratio(grams(2), "distinct_2").drop("_n_distinct_2")
    r3 = ratio(grams(3), "distinct_3").drop("_n_distinct_3")
    # left joins: a source whose docs are all shorter than 2 (or 3)
    # tokens has no bigram (trigram) ledger row, and keeps a NULL ratio
    return (
        r1.join(r2, "source", "left")
        .join(r3, "source", "left")
        .select(
            "source", "n_unigrams", "distinct_1", "distinct_2", "distinct_3"
        )
        .orderBy("source")
    )


#: Stand-in category lexicons for the blocklist gate (the fixture
#: vocabulary is benign word-soup; real deployments swap in the
#: published C4 blocklist — the operator shape is what's tested).
_BLOCKLIST = {
    "commerce": ("customer", "order"),
    "infra": ("table", "spark"),
}


@register(
    "q_llm_blocklist_filter",
    oracle=f"""
WITH m AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(text, ' '),
                         x -> list_contains(
                           {list(_BLOCKLIST["commerce"])}, x)))
           AS n_commerce,
         len(list_filter(string_split(text, ' '),
                         x -> list_contains(
                           {list(_BLOCKLIST["infra"])}, x))) AS n_infra,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
SELECT doc_id,
       CAST(n_commerce AS BIGINT) AS n_commerce,
       CAST(n_infra AS BIGINT) AS n_infra,
       CASE WHEN CAST(n_commerce AS DOUBLE) / n_tokens > 0.05
              THEN 'block_commerce'
            WHEN CAST(n_infra AS DOUBLE) / n_tokens > 0.08
              THEN 'block_infra'
            ELSE 'keep' END AS verdict
FROM m
""",
    doc="Category-blocklist gate (the C4 'bad words list' step): "
    "per-category lexicon hit counts over the token stream and a "
    "first-failing-category verdict when a category's token share "
    "exceeds its threshold (commerce > 5%, infra > 8%) — the "
    "lexicon-driven complement of q_llm_c4_filter's structural "
    "heuristics and q_llm_pii_scrub's pattern redaction. The fixture "
    "lexicons are benign stand-ins; the operator contract (multi-"
    "category counting, share thresholds, audit verdict) is what a "
    "real blocklist deployment swaps content into.",
    scale_notes="Zero-shuffle codegen'd projection: the lexicons "
    "compile into the expression (or broadcast as a map for large "
    "lists); per-doc cost is one token scan regardless of corpus "
    "size. Adding categories widens the projection only.",
)
def q_llm_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = F.split("text", " ")

    def hits(words: tuple) -> F.Column:
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(
            F.filter(t, lambda x: F.array_contains(arr, x))
        )

    n_tokens = F.size(t)
    m = docs.select(
        "doc_id",
        hits(_BLOCKLIST["commerce"]).alias("n_commerce"),
        hits(_BLOCKLIST["infra"]).alias("n_infra"),
        n_tokens.alias("n_tokens"),
    )
    return m.select(
        "doc_id",
        F.col("n_commerce").cast("bigint").alias("n_commerce"),
        F.col("n_infra").cast("bigint").alias("n_infra"),
        F.when(
            F.col("n_commerce").cast("double") / F.col("n_tokens") > 0.05,
            "block_commerce",
        )
        .when(
            F.col("n_infra").cast("double") / F.col("n_tokens") > 0.08,
            "block_infra",
        )
        .otherwise("keep")
        .alias("verdict"),
    )


@register(
    "q_llm_heaps_law",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), cumtok AS (
  SELECT doc_id,
         CAST(SUM(len(t)) OVER (ORDER BY doc_id) AS BIGINT) AS n_cum
  FROM toks
), firstseen AS (
  SELECT w, MIN(doc_id) AS first_doc FROM (
    SELECT doc_id, unnest(t) AS w FROM toks) u
  GROUP BY w
), pts AS (
  SELECT c.doc_id, c.n_cum,
         CAST((SELECT COUNT(*) FROM firstseen f
               WHERE f.first_doc <= c.doc_id) AS BIGINT) AS v_cum
  FROM cumtok c WHERE c.doc_id % 50 = 49
), ols AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         SUM(CAST(ROUND(LN(n_cum), 8) AS DECIMAL(20,8))) AS sx,
         SUM(CAST(ROUND(LN(v_cum), 8) AS DECIMAL(20,8))) AS sy,
         SUM(CAST(ROUND(LN(n_cum) * LN(n_cum), 8)
                  AS DECIMAL(20,8))) AS sxx,
         SUM(CAST(ROUND(LN(n_cum) * LN(v_cum), 8)
                  AS DECIMAL(20,8))) AS sxy
  FROM pts
)
SELECT k AS n_checkpoints,
       -- + 0 clamps IEEE negative zero: on a template-duplicated
       -- corpus beta is a tiny negative and DuckDB's ROUND yields
       -- -0.0 where Spark's yields 0.0 (repr-distinct, hash mismatch)
       ROUND((k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / (k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx), 4) + 0
         AS beta,
       ROUND(EXP((CAST(sy AS DOUBLE)
                  - (k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                    / (k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * sx) / k), 4) AS k_coef
FROM ols
""",
    doc="Heaps'-law vocabulary-growth fit (V(N) = K N^beta): "
    "checkpoint the doc_id-ordered corpus every 50 documents, "
    "measure cumulative tokens N (running sum) and cumulative "
    "vocabulary V (tokens whose FIRST document is <= the checkpoint "
    "— the q_llm_gram_novelty first-seen trick, so no stateful "
    "stream scan), then fit beta/K by closed-form log-log OLS with "
    "ROUND-8 DECIMAL-summed moments. Sub-linear beta (~0.5) is the "
    "healthy natural-language signature; beta near 0 screams "
    "template duplication, near 1 random noise — the one-number "
    "vocabulary-scaling forecast (how big a tokenizer a 100 TB "
    "corpus needs) next to q_llm_vocab_coverage's fixed-budget "
    "view.",
    scale_notes="first-seen ledger = one token shuffle (vocabulary-"
    "sized, map-combined); both cumulative measures are running sums "
    "over a block ledger (one row per 50 doc_ids: tokens, words first "
    "seen, whether it holds a checkpoint), so the work is linear in "
    "the corpus and only the docs/50-row ledger single-partitions. "
    "OLS is a 5-number reduction.",
)
def q_llm_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # a null doc_id precedes no checkpoint
    toks = docs.filter(F.col("doc_id").isNotNull()).select(
        "doc_id", F.split("text", " ").alias("t")
    )

    def block(c: str):
        # checkpoint 50b + 49 is the last doc_id of block b, so "doc_id
        # <= checkpoint" is "block <= b"
        return F.floor(F.col(c) / 50).alias("b")

    per_doc = toks.select(
        block("doc_id"),
        F.size("t").alias("sz"),
        (F.col("doc_id") % 50 == 49).alias("ck"),
        F.lit(0).alias("new"),
    )
    first_seen = (
        toks.select("doc_id", F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("first_doc"))
        .select(
            block("first_doc"),
            F.lit(None).cast("int").alias("sz"),
            F.lit(False).alias("ck"),
            F.lit(1).alias("new"),
        )
    )
    ledger = (
        per_doc.unionByName(first_seen)
        .groupBy("b")
        .agg(F.sum("sz").alias("tok"), F.bool_or("ck").alias("ck"),
             F.sum("new").alias("new"))
    )
    cum = Window.orderBy("b")
    pts = ledger.select(
        "ck",
        F.sum("tok").over(cum).cast("bigint").alias("n_cum"),
        F.sum("new").over(cum).cast("bigint").alias("v_cum"),
    ).filter(F.col("ck") & (F.col("v_cum") > 0))  # log V needs V > 0
    lx = F.log(F.col("n_cum"))
    ly = F.log(F.col("v_cum"))
    dec = lambda c: F.round(c, 8).cast("decimal(20,8)")  # noqa: E731
    ols = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(dec(lx)).alias("sx"),
        F.sum(dec(ly)).alias("sy"),
        F.sum(dec(lx * lx)).alias("sxx"),
        F.sum(dec(lx * ly)).alias("sxy"),
    )
    k = F.col("k")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    beta = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    return ols.select(
        k.alias("n_checkpoints"),
        # + 0.0 clamps IEEE -0.0 to 0.0 (see the oracle comment)
        (F.round(beta, 4) + F.lit(0.0)).alias("beta"),
        F.round(F.exp((sy - beta * sx) / k), 4).alias("k_coef"),
    )


@register(
    "q_llm_collocations",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), bg AS (
  SELECT unnest(list_transform(range(1, len(t)),
                i -> t[i] || ' ' || t[i + 1])) AS bigram
  FROM toks
), c2 AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n12 FROM bg GROUP BY bigram
), u AS (
  SELECT unnest(t) AS w FROM toks
), c1 AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY w
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM u
), pmi AS (
  SELECT c2.bigram, c2.n12, a.n AS n1, b.n AS n2,
         ROUND(LN(CAST(c2.n12 AS DOUBLE) * tot.nu
                  / (CAST(a.n AS DOUBLE) * b.n)), 6) AS pmi
  FROM c2 CROSS JOIN tot
  JOIN c1 a ON a.w = split_part(c2.bigram, ' ', 1)
  JOIN c1 b ON b.w = split_part(c2.bigram, ' ', 2)
  WHERE c2.n12 >= 5
)
SELECT bigram, n12, n1, n2, pmi
FROM pmi ORDER BY pmi DESC, bigram ASC LIMIT 15
""",
    doc="Collocation mining (top pointwise-mutual-information "
    "bigrams, min count 5 — Church & Hanks 1990): PMI = ln(c(w1 w2) "
    "N / (c(w1) c(w2))) over the corpus token stream, the standard "
    "multiword-expression detector feeding tokenizer merge "
    "candidates (q_llm_bpe_train ranks by raw pair frequency; PMI "
    "surfaces the ASSOCIATED pairs frequency hides). PMI pre-rounded "
    "to 6 decimals so the top-15 ordering is engine-stable, bigram "
    "tie-break.",
    scale_notes="Bigram + unigram count ledgers (map-combined) with "
    "two vocabulary hash joins carrying NO broadcast hints (the "
    "q_llm_perplexity discipline), a 1-row token total, and "
    "TakeOrderedAndProject for the head.",
)
def q_llm_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bg = toks.select(F.explode(word_ngrams("t", 2)).alias("bigram"))
    c2 = bg.groupBy("bigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("n12")
    )
    u = toks.select(F.explode("t").alias("w"))
    c1 = u.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = u.agg(F.count(F.lit(1)).cast("bigint").alias("nu"))
    a = c1.select(F.col("w").alias("w1"), F.col("n").alias("n1"))
    b = c1.select(F.col("w").alias("w2"), F.col("n").alias("n2"))
    return (
        c2.filter(F.col("n12") >= 5)
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
        )
        .withColumn(
            "w2", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2))
        )
        .join(a, "w1")
        .join(b, "w2")
        .select(
            "bigram",
            "n12",
            "n1",
            "n2",
            F.round(
                F.log(
                    F.col("n12").cast("double")
                    * F.col("nu")
                    / (F.col("n1").cast("double") * F.col("n2"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("bigram").asc())
        .limit(15)
    )


@register(
    "q_llm_cooccur_window",
    oracle="""
WITH pos AS (
  SELECT doc_id, unnest(t) AS w,
         generate_subscripts(t, 1) AS p
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) s
), pairs AS (
  SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS n12
  FROM pos a JOIN pos b
    ON a.doc_id = b.doc_id AND b.p > a.p AND b.p <= a.p + 5
  GROUP BY a.w, b.w
), sym AS (
  SELECT LEAST(w1, w2) AS wa, GREATEST(w1, w2) AS wb,
         CAST(SUM(n12) AS BIGINT) AS n12
  FROM pairs GROUP BY wa, wb
), u AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM pos GROUP BY w
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM pos
)
SELECT sym.wa, sym.wb, sym.n12, a.n AS n_a, b.n AS n_b,
       ROUND(LN(CAST(sym.n12 AS DOUBLE) * tot.nu
                / (CAST(a.n AS DOUBLE) * b.n)), 6) AS pmi
FROM sym CROSS JOIN tot
JOIN u a ON a.w = sym.wa
JOIN u b ON b.w = sym.wb
WHERE sym.n12 >= 20
ORDER BY pmi DESC, sym.wa ASC, sym.wb ASC LIMIT 20
""",
    doc="Windowed co-occurrence matrix construction (the GloVe / "
    "word2vec statistics pass): unordered token pairs within a "
    "5-token forward window accumulate per-pair counts "
    "(symmetrized via least/greatest), min count 20, top-20 by "
    "window PMI — where q_llm_collocations sees only ADJACENT "
    "bigrams (multiword expressions), this captures the broader "
    "topical association an embedding trainer consumes. Positional "
    "self-join per document, never across documents; PMI "
    "pre-rounded to 6 decimals for stable ordering.",
    scale_notes="The per-doc positional self-join is bounded by "
    "window x doc length (each token pairs with <= 5 successors), "
    "so pair volume is 5N, not N^2; the (w1, w2) reduction is "
    "map-combined and vocabulary^2-bounded with the min-count "
    "filter pruning the tail before the head sort. 1-row token "
    "total crosses in broadcast.",
)
def q_llm_cooccur_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("p0", "w"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    a = pos.select(
        F.col("doc_id").alias("da"),
        F.col("p").alias("pa"),
        F.col("w").alias("w1"),
    )
    b = pos.select(
        F.col("doc_id").alias("db"),
        F.col("p").alias("pb"),
        F.col("w").alias("w2"),
    )
    pairs = (
        a.join(
            b,
            (F.col("da") == F.col("db"))
            & (F.col("pb") > F.col("pa"))
            & (F.col("pb") <= F.col("pa") + 5),
        )
        .groupBy(
            F.least("w1", "w2").alias("wa"),
            F.greatest("w1", "w2").alias("wb"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n12"))
    )
    u = pos.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = pos.agg(F.count(F.lit(1)).cast("bigint").alias("nu"))
    ua = u.select(F.col("w").alias("wa"), F.col("n").alias("n_a"))
    ub = u.select(F.col("w").alias("wb"), F.col("n").alias("n_b"))
    return (
        pairs.filter(F.col("n12") >= 20)
        .crossJoin(F.broadcast(tot))
        .join(ua, "wa")
        .join(ub, "wb")
        .select(
            "wa",
            "wb",
            "n12",
            "n_a",
            "n_b",
            F.round(
                F.log(
                    F.col("n12").cast("double")
                    * F.col("nu")
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(
            F.col("pmi").desc(), F.col("wa").asc(), F.col("wb").asc()
        )
        .limit(20)
    )
