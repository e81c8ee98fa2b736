"""Shingle edge case (judge carryover): docs with 1 or 2 tokens must
yield the oracle's EMPTY shingle set, not a runtime slice error.

Builds a tiny synthetic corpus (1-, 2-, 3-token and near-duplicate
docs) in a temp sf_dir (other tables symlinked from sf0.001) and runs
the full shingle family against the same DuckDB oracle the driver uses.
"""

from __future__ import annotations

import os

import pytest

from weather_etl_spark.registry import load_all
from tests.conftest import SMOKE_SF_DIR
from tests.oracle_utils import compare_to_oracle

SHINGLE_QUERIES = [
    "q_llm_ngram_jaccard",
    "llm_jaccard_prefix",
    "llm_minhash_banded",
    "q_llm_minhash_eval",
    "q_llm_minhash_mae",
    "q_llm_dedup_curve",
    "q_llm_fingerprint",
]


@pytest.fixture(scope="module")
def short_doc_sf_dir(spark, tmp_path_factory) -> str:
    root = tmp_path_factory.mktemp("shortdocs")
    for name in os.listdir(SMOKE_SF_DIR):
        if name.endswith(".parquet") and name != "documents.parquet":
            os.symlink(os.path.join(SMOKE_SF_DIR, name), root / name)
    docs = [
        (1, "solo", "en"),
        (2, "two tokens", "en"),
        (3, "exactly three tokens", "en"),
        (4, "exactly three tokens", "en"),
        (5, "the quick brown fox jumps over the lazy dog", "en"),
        (6, "the quick brown fox jumps over the lazy cat", "en"),
        (7, "", "en"),
    ]
    import pyarrow.parquet as pq

    base = pq.read_table(os.path.join(SMOKE_SF_DIR, "documents.parquet"))
    template = {k: v[0] for k, v in base.to_pydict().items()}
    columns = {name: [] for name in base.schema.names}
    for doc_id, text, lang in docs:
        r = dict(template, doc_id=doc_id, text=text, lang=lang, n_chars=len(text))
        for name in columns:
            columns[name].append(r[name])
    import pyarrow as pa

    pq.write_table(
        pa.table(columns, schema=base.schema), str(root / "documents.parquet")
    )
    return str(root)


@pytest.mark.parametrize("name", SHINGLE_QUERIES)
def test_short_docs_parity(spark, short_doc_sf_dir, name):
    spec = load_all()[name]
    compare_to_oracle(spark, spec, short_doc_sf_dir)


def test_word_ngrams_matches_python_slicing(spark):
    """The n-gram kernel against Python slicing for n in 1..4 over token
    arrays of length 0..n+1, with and without empty tokens (the raw
    split of a double-spaced text); a NULL array stays NULL."""
    from weather_etl_spark.functions.exact import word_ngrams

    arrays = [None]
    for size in range(6):
        arrays.append([f"w{i}" for i in range(size)])
        arrays.append(["" if i % 2 else f"w{i}" for i in range(size)])
        arrays.append([""] * size)
    df = spark.createDataFrame(
        [(k, t) for k, t in enumerate(arrays)], "k int, t array<string>"
    )
    ns = (1, 2, 3, 4)
    got = {
        r["k"]: [r[f"g{n}"] for n in ns]
        for r in df.select(
            "k", *[word_ngrams("t", n).alias(f"g{n}") for n in ns]
        ).collect()
    }
    for k, t in enumerate(arrays):
        want = [
            None
            if t is None
            else [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]
            for n in ns
        ]
        assert got[k] == want, (t, got[k], want)
    # the 2-token, n=3 case: empty, not a short gram or a runtime error
    assert got[arrays.index(["w0", "w1"])][2] == []
