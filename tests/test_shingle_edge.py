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
