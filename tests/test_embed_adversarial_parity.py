"""Adversarial-embedding oracle parity for the vector backlog.

Third battery of the family (events: test_drift_random_parity, text:
test_text_adversarial_parity): the fixture embeddings are independent
near-orthogonal noise, so none of the tie-sensitive behavior of the
retrieval/dedup rows — exactly-equal cosines competing for a top-k
slot, pairs sitting at the similarity threshold, exact-duplicate and
sign-flipped vectors, clustered geometry — is exercised before these
rows reach a driver window. A fabricated corpus with planted ties and
duplicates re-runs the registered DuckDB oracles with full value
parity; every top-k tie must break identically ((score, vec_id)
total orders) in both engines.

Full lane (see pytest.ini).
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

#: Embeddings-based rows: the backlog queued r8-r10 plus every row on
#: the shared cosine kernel.
EMBED_OPS = [
    "q_llm_semdedup", "q_llm_embed_truncate", "q_llm_embed_pq",
    "q_llm_hard_negatives", "q_dq_embeddings", "q_llm_retrieval_eval",
    "q_llm_mmr_select", "q_llm_ood_score", "q_llm_prf_expand",
    "q_llm_align_uniform", "q_llm_hubness",
    # reads embedding dims 1-2 as coordinates: the one-hot grid plants
    # points EXACTLY on floor(x/eps) cell boundaries
    "q_join_spatial_grid",
    # rows scored by the shared cosine kernel (functions/exact.py) and
    # the group-mean vector: a reordered reduction flips a top-k slot or
    # a threshold exactly on the planted duplicates and mass ties
    "q_llm_knn", "llm_knn_blocked", "q_llm_cosine_pairs",
    "llm_cosine_pairs_blocked", "q_llm_embed_dedup",
    "llm_embed_dedup_blocked", "q_llm_centroid", "llm_doc_embed_cohesion",
]

DIM = 64


def _tie_corpus():
    """500 vectors, fixture-shaped ids/labels, planted structure:

    - 3 clusters of 40 around orthogonal axes (sigma 0.05) — real
      geometry for semdedup/ood/prf instead of uniform noise;
    - 10 EXACT duplicate pairs (identical float32 payloads, distinct
      vec_ids) — cosine exactly 1.0, the hardest top-k tie;
    - 5 sign-flipped twins (cosine exactly -1.0);
    - an axis-aligned grid: 20 one-hot vectors sharing identical
      pairwise cosines (0.0) — mass ties at the same score;
    - the rest uniform noise.
    """
    rng = random.Random(battery_seed(424242))
    vecs: list[list[float]] = []

    def noise(scale=1.0):
        return [rng.gauss(0.0, scale) for _ in range(DIM)]

    axes = [0, 7, 23]
    for a in axes:  # clusters
        for _ in range(40):
            v = noise(0.05)
            v[a] += 1.0
            vecs.append(v)
    for _ in range(10):  # exact duplicate pairs
        v = noise()
        vecs.append(list(v))
        vecs.append(list(v))
    for _ in range(5):  # sign-flipped twins
        v = noise()
        vecs.append(list(v))
        vecs.append([-x for x in v])
    for k in range(20):  # one-hot grid: identical pairwise cosines
        v = [0.0] * DIM
        v[k % DIM] = 1.0
        vecs.append(v)
    while len(vecs) < 500:
        vecs.append(noise())
    rows = [
        (i, [float(x) for x in v], i % 7) for i, v in enumerate(vecs)
    ]
    return rows


def _write_embeddings(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "ties"
    d.mkdir()
    for t in TABLES:
        if t != "embeddings":
            shutil.copy(f"{SMOKE_SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def tie_dir(tmp_path_factory):
    return _write_embeddings(tmp_path_factory.mktemp("advemb"), _tie_corpus())


@pytest.mark.parametrize("name", EMBED_OPS)
def test_adversarial_embedding_parity(spark, tie_dir, name):
    compare_to_oracle(spark, SPECS[name], tie_dir)


# --- planted-duplicate ANN recall: guaranteed-by-construction ---------------
#
# llm_ann_lsh / llm_ann_ivf are rows-only (approximate, no SQL oracle);
# their fixture evidence is a recall FLOOR vs brute force.  This battery
# asserts the one case where recall is not probabilistic but structural:
# an EXACT duplicate of a probe vector shares every LSH band bucket
# (identical sign bits in all 8 tables) and the same IVF cell (identical
# max-cosine scores, identical deterministic tie-break), and the probe
# always searches its own bucket/cell — so the twin MUST surface in the
# top-5, at the maximum cosine, under ANY seed.


def _planted_dup_corpus():
    """300 noise vectors; probes 1..5 get exact float32 twins at
    vec_ids 301..305 (identical payloads, distinct ids)."""
    rng = random.Random(battery_seed(606060))
    rows = []
    for i in range(301):
        v = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
        rows.append((i, [float(x) for x in v], i % 7))
    for p in range(1, 6):  # exact twins of the five probe ids
        rows.append((300 + p, list(rows[p][1]), rows[p][2]))
    return rows


@pytest.fixture(scope="module")
def dup_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("anndup")
    rows = _planted_dup_corpus()
    # same writer as tie_dir, different directory
    import pyarrow as pa
    import pyarrow.parquet as pq

    sub = d / "dup"
    sub.mkdir()
    for t in TABLES:
        if t != "embeddings":
            shutil.copy(f"{SMOKE_SF_DIR}/{t}.parquet", sub / f"{t}.parquet")
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, str(sub / "embeddings.parquet"))
    return str(sub)


@pytest.mark.parametrize("name", ["llm_ann_lsh", "llm_ann_ivf"])
def test_ann_planted_duplicate_recall(spark, dup_dir, name):
    out = SPECS[name].fn(spark, dup_dir).collect()
    by_probe = {}
    for r in out:
        by_probe.setdefault(r["probe_id"], []).append(r)
    for p in range(1, 6):
        twin = 300 + p
        got = {r["vec_id"]: r["cos"] for r in by_probe.get(p, [])}
        assert twin in got, (
            f"{name}: probe {p} missed its exact twin {twin} "
            f"(returned {sorted(got)})"
        )
        assert got[twin] >= 0.9999, (p, twin, got[twin])
        assert got[twin] == max(got.values()), (p, got)
