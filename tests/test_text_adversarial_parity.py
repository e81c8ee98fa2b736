"""Adversarial-corpus oracle parity for the text/LLM backlog.

Companion to tests/test_drift_random_parity.py (events): the fixture's
documents are uniformly clean space-separated token streams, so the
text operators' edge behavior — empty documents, single-token
documents, runs of repeated tokens, exact-duplicate texts under
different doc_ids, markup fragments, multi-space runs, unicode — is
untested against the oracles before these rows reach a driver window.
Three fabricated corpora re-run the registered DuckDB oracles with full
value parity; the short-and-gapped one runs every word n-gram row.

Full lane: a ~50-case sweep (see pytest.ini).
"""

from __future__ import annotations

import random
import shutil

import pytest

from weather_etl_spark.io import TABLES
from weather_etl_spark.registry import load_all
from tests.conftest import battery_seed, SMOKE_SF_DIR
from tests.oracle_utils import compare_to_oracle

pytestmark = pytest.mark.full  # adversarial parity sweep (see pytest.ini)

SPECS = load_all()

#: Never-driver-checked documents-based rows (B.9 backlog, r8-r10).
TEXT_OPS = [
    "q_llm_sentences", "q_llm_token_budget", "q_llm_gram_novelty",
    "q_llm_readability", "q_llm_prefix_dup", "q_llm_bpe_pairs",
    "q_llm_bpe_train", "q_llm_apply_bpe", "q_llm_vocab_coverage",
    "q_llm_span_corruption", "q_llm_preference_pairs", "q_llm_boilerplate",
    "q_llm_distinct_n", "q_llm_blocklist_filter", "q_llm_heaps_law",
    "q_llm_collocations", "q_llm_cooccur_window", "q_llm_ppl_bucket",
    "q_llm_entropy_rate", "q_llm_bm25", "q_llm_filter_funnel",
    "q_llm_kneser_ney", "q_llm_ppl_holdout", "q_llm_log_odds",
    "q_llm_keywords", "q_llm_dsir", "q_llm_dedup_weights",
    "q_llm_dup_size_hist", "q_llm_dedup_incremental",
    "q_llm_minhash_eval", "q_llm_minhash_mae", "q_llm_dedup_curve",
    "q_llm_feature_hash", "q_llm_domain_cap",
    # rank fusion's md5-ordered list hits tie-breaks on duplicate texts
    "q_rank_fusion",
    # markup/mojibake docs planted in the edge corpus feed these
    "q_llm_strip_markup", "q_llm_encoding_check",
    # battery residue (r7 verdict #3): generation-eval pairs hit
    # single-token candidates (zero bigrams), exact-duplicate
    # candidate==reference pairs, and empty-overlap pairs here; the
    # kappa raters see all-negative/all-positive corners; compaction's
    # next-fit prefix sum walks zero-length and giant documents
    "q_llm_rouge", "q_llm_bleu", "q_agg_cohens_kappa",
    "q_layout_compaction",
    # the multimodal rows index the UTF-8 payload bytes (hex-pair
    # oracles): mojibake, markup and 1-token docs pin that byte parity
    "llm_multimodal", "llm_mm_framesample", "llm_mm_decode",
    "llm_mm_pixel_dedup", "llm_mm_audio_window", "llm_mm_resize",
    "llm_mm_phash_dedup", "llm_mm_scenechange",
    # the edge corpus's 1-token "solo" doc has no bigram
    "q_llm_repetition",
]
# dedupe while preserving order
TEXT_OPS = list(dict.fromkeys(TEXT_OPS))

_VOCAB = (
    "the fast key order sort table scan merge part window small hash "
    "join batch stream spark dup filter plan stage task shuffle page "
    "cache block row"
).split()


def _write_docs(tmp_path, tag, docs):
    """Adversarial dir = fabricated documents + sf0.001 copies of the
    other tables; single-file parquet so both engines read by path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / tag
    d.mkdir()
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SMOKE_SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in docs], pa.int64()),
            "text": pa.array([r[1] for r in docs], pa.string()),
            "lang": pa.array([r[2] for r in docs], pa.string()),
            "source": pa.array([r[3] for r in docs], pa.string()),
            "n_chars": pa.array(
                [len(r[1]) for r in docs], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)


def _edge_corpus():
    """Structural edges: single-token and two-token docs, a doc that is
    one token repeated 60x, exact-duplicate texts under many doc_ids,
    shared 30-token prefixes with divergent tails, and long docs."""
    rng = random.Random(battery_seed(90217))
    docs = []
    did = 0

    def add(text, lang="en", source="srcA"):
        nonlocal did
        docs.append((did, text, lang, source))
        did += 1

    add("solo")                                   # 1 token
    add("pair token")                             # 2 tokens
    add("dup " * 59 + "dup")                      # one token repeated
    # markup fragments and mojibake for strip_markup / encoding_check
    add("<div> the <b>fast</b> table scan </div> join <br/> merge")
    add("cafÃ© rÃ©sumÃ© plain join table")
    add("scan &amp; merge &lt;plan&gt; window sort hash")
    shared = " ".join(rng.choice(_VOCAB) for _ in range(30))
    for k in range(6):                            # shared-prefix family
        tail = " ".join(rng.choice(_VOCAB) for _ in range(10))
        add(f"{shared} {tail}", source=f"src{k % 3}")
    clone = " ".join(rng.choice(_VOCAB) for _ in range(25))
    for _ in range(8):                            # exact duplicates
        add(clone, lang="es", source="srcB")
    for _ in range(80):                           # bulk, varied lengths
        n = rng.choice([3, 8, 20, 50, 120])
        add(
            " ".join(rng.choice(_VOCAB) for _ in range(n)),
            lang=rng.choice(["en", "es", "de", "fr"]),
            source=rng.choice(["srcA", "srcB", "src0"]),
        )
    return docs


def _dup_corpus():
    """Duplication-heavy: a few template texts instantiated dozens of
    times (dup-size histogram / soft-weights / novelty stress), plus
    high token-repetition docs that push n-gram counts to the edge."""
    rng = random.Random(battery_seed(5501))
    docs = []
    did = 0
    templates = [
        " ".join(rng.choice(_VOCAB) for _ in range(18)) for _ in range(5)
    ]
    for t_i, t in enumerate(templates):
        for _ in range(4 + 6 * t_i):  # cluster sizes 4,10,16,22,28
            docs.append((did, t, "en", f"src{t_i % 3}"))
            did += 1
    for _ in range(40):  # low-entropy repeated-bigram docs
        a, b = rng.choice(_VOCAB), rng.choice(_VOCAB)
        docs.append((did, f"{a} {b} " * 12 + a, "de", "srcB"))
        did += 1
    return docs


def _gap_corpus():
    """Short and gapped documents: empty text, 1- and 2-token docs,
    inner, leading and trailing double spaces (the raw split then holds
    '' tokens), and a source made only of docs under 3 tokens.  Even /
    odd doc_id neighbors are the generation-eval (reference, candidate)
    pairs, so gapped candidates meet clean references."""
    rng = random.Random(battery_seed(31337))
    docs = [
        (0, "the fast table", "en", "srcA"),
        (1, "the  fast table", "en", "srcA"),      # inner double space
        (2, "", "en", "srcA"),
        (3, "solo", "en", "srcA"),
        (4, "pair token", "en", "srcA"),
        (5, " pair token", "en", "srcA"),          # leading space
        (6, "scan merge join", "en", "srcA"),
        (7, "scan merge join ", "en", "srcA"),     # trailing space
        (8, "hash  join", "de", "srcA"),
        (9, "  ", "de", "srcA"),                   # only blank tokens
    ]
    did = len(docs)
    for _ in range(12):                            # short-only source
        n = rng.choice([0, 1, 2])
        docs.append(
            (did, " ".join(rng.choice(_VOCAB) for _ in range(n)), "en",
             "srcShort")
        )
        did += 1
    for _ in range(60):                            # bulk with gaps
        n = rng.choice([1, 2, 3, 9, 30])
        toks = [rng.choice(_VOCAB) for _ in range(n)]
        for _ in range(rng.choice([0, 1, 2])):
            toks.insert(rng.randrange(len(toks) + 1), "")
        docs.append(
            (did, " ".join(toks), rng.choice(["en", "es"]),
             rng.choice(["srcA", "srcB"]))
        )
        did += 1
    return docs


#: Every row that builds word n-grams through ``word_ngrams`` (the
#: oracled ones; llm_near_dedup is rows-only), plus the generation-eval
#: pair over the same grams.
NGRAM_OPS = [
    "q_llm_ngram_jaccard", "llm_jaccard_prefix", "llm_minhash_banded",
    "q_llm_minhash_eval", "q_llm_minhash_mae", "q_llm_dedup_curve",
    "q_llm_decontaminate", "q_llm_bpe_pairs", "q_llm_bpe_train",
    "q_llm_apply_bpe", "q_llm_gram_novelty", "q_llm_boilerplate",
    "q_llm_distinct_n", "q_llm_collocations", "q_llm_repetition",
    "q_llm_perplexity", "q_llm_entropy_rate", "q_llm_kneser_ney",
    "q_llm_ppl_holdout", "q_llm_rouge", "q_llm_bleu",
]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    return _write_docs(tmp_path_factory.mktemp("advtext"), "edge", _edge_corpus())


@pytest.fixture(scope="module")
def dup_dir(tmp_path_factory):
    return _write_docs(tmp_path_factory.mktemp("advtext"), "dup", _dup_corpus())


@pytest.fixture(scope="module")
def gap_dir(tmp_path_factory):
    return _write_docs(
        tmp_path_factory.mktemp("advtext"), "gap", _gap_corpus()
    )


def test_funnel_stage_exhaustion_parity(spark, tmp_path):
    """A corpus where one funnel stage kills EVERY remaining doc: the
    no-stopword vocabulary means stage 3 zeroes the survivors, so the
    later stages' conditional sums aggregate empty sets. Caught the
    r7 bug where Spark emitted NULL n_in/n_out/cum_survival (raw SUM
    over no rows) while the oracle counted 0."""
    rng = random.Random(battery_seed(8080))
    vocab = [f"v{i}" for i in range(40)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(20)), "en", "srcA")
        for i in range(40)
    ]
    d = _write_docs(tmp_path, "exhaust", docs)
    compare_to_oracle(spark, SPECS["q_llm_filter_funnel"], d)


@pytest.mark.parametrize("name", TEXT_OPS)
def test_adversarial_edge_corpus_parity(spark, edge_dir, name):
    compare_to_oracle(spark, SPECS[name], edge_dir)


@pytest.mark.parametrize("name", TEXT_OPS)
def test_adversarial_dup_corpus_parity(spark, dup_dir, name):
    compare_to_oracle(spark, SPECS[name], dup_dir)


@pytest.mark.parametrize("name", NGRAM_OPS)
def test_adversarial_gap_corpus_parity(spark, gap_dir, name):
    compare_to_oracle(spark, SPECS[name], gap_dir)
