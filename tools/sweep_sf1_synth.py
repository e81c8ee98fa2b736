"""Synthetic ~sf1 scale sweep (r5 verdict stretch #7, adapted).

No sf1 fixture exists, so this tool fabricates one — STRICTLY for
performance/plan-shape measurement, never for correctness oracles
(TESTDATA.md's tables remain the only correctness inputs): each sf0.1
table is replicated 10x with key-shifted replicas that preserve every
foreign-key relationship (orderkey/custkey/suppkey/partkey/event/user/
doc/vec ids shift by replica * 10^ceil(log10(max+1)); constant dims
region/nation copy through; event timestamps shift by replica days so
the temporal density profile is preserved rather than stacked).

Output: per-query seconds at the synthetic sf1 (builder plus one full
run of the query through its own QueryExecution), plus the
BroadcastHashJoin/SortMergeJoin/ShuffledHashJoin composition of the
join composites' AQE final plans so SCALE.md can record whether any
plan changes shape 10x up (broadcast->SMJ flips are the interesting
event for the de-hinted r6 queries).

Usage:  python tools/sweep_sf1_synth.py [--rebuild]
"""

from __future__ import annotations

import math
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F

from weather_etl_spark.checkpoints import release_session_checkpoints
from weather_etl_spark.io import TABLES
from weather_etl_spark.plan_audit import run_final
from weather_etl_spark.registry import load_all
from weather_etl_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
DST = str(ROOT / "spark-warehouse" / "sf1_synth")
REPLICAS = 10

#: key column -> shift unit derived from that column's own max
_SHIFT_KEYS = {
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
#: shared key spaces must shift by the SAME unit on both sides
_SHARED_UNITS = {
    "o_orderkey": "orderkey", "l_orderkey": "orderkey",
    "o_custkey": "custkey", "c_custkey": "custkey",
    "l_suppkey": "suppkey", "s_suppkey": "suppkey",
    "l_partkey": "partkey", "p_partkey": "partkey",
    "user_id": "userkey",
}

SWEEP = [
    "q_agg_q1", "q_join_smj", "q_join_star", "q_tpch_q3", "q_tpch_q5",
    "q_join_salted", "q_join_interval_overlap", "q_llm_knn",
    "q_llm_perplexity", "q_llm_tfidf", "q_llm_decontaminate",
    "q_graph_degree", "q_graph_pagerank", "q_win_runsum",
    "q_llm_chunk", "llm_embed_quantize", "q_llm_exact_dedup",
    "llm_jaccard_prefix", "llm_components_starcontract",
    # round-6 late batch (key-shifted replicas keep the part graph
    # disjoint per replica, so triangles scale by pure data volume)
    "q_graph_triangles", "q_agg_cms_portable", "q_llm_dsir",
    "q_funnel", "q_agg_bitmap_portable", "q_cdc_upsert",
    "q_llm_keywords", "q_agg_hist_quantile",
    # round-6 third/fourth batches (llm_mm_phash_dedup excluded: its
    # doc_id <= 200 fixture cap keeps only replica 0, so the synth
    # replication adds nothing to measure)
    "q_tpch_q10", "q_graph_adamic_adar", "q_event_trigrams",
    "q_time_holt", "q_join_scd2_lookup", "q_llm_ppl_bucket",
    "q_time_seasonal",
    # r7 window (first driver check this round): every join-bearing row
    # of the 50-slot backlog window gets one sf1-synth timing + (for
    # the composites) a join-composition line (r6 verdict stretch #8).
    # llm_mm_phash_dedup excluded for the same doc_id-cap reason as
    # above; the 1-row-broadcast stats joins (ttest/mannwhitney/kl/js/
    # hhi/mutual_info/benford) are included as a flat-cost control
    # group.
    "q_fn_geo", "q_agg_kmv_intersect", "q_agg_hll_rollup",
    "q_agg_quantile_eval", "q_cohort_retention", "q_sample_weighted",
    "q_dq_audit", "q_skew_profile", "q_time_downsample", "q_ab_cuped",
    "q_cohort_ltv", "q_ldiversity", "q_join_bitemporal",
    "q_event_cooccurrence", "q_agg_benford", "q_agg_ttest",
    "q_agg_mannwhitney", "q_agg_hhi", "q_agg_mutual_info",
    "q_agg_kl_divergence", "q_agg_js_divergence",
    # r7 plan-shape change: the block-scored banded verify
    "llm_embed_dedup_blocked", "llm_cosine_pairs_blocked",
    # r8 window (first driver check this round): every join-bearing
    # row of the 50-slot window not already swept above.  The eventseq
    # joins are ledger-scale (daily/lifetime aggregates or 1-row
    # broadcasts) included as the flat-cost control; the TPC-H span
    # and the grid-bucketed spatial join are the real scale probes.
    "q_snapshot_diff", "q_rank_fusion", "q_time_cusum",
    "q_event_dau_wau", "q_event_lifecycle", "q_event_survival",
    "q_event_markov2", "q_time_mad", "q_event_time_to_convert",
    "q_event_next_pred", "q_agg_winsorize", "q_join_spatial_grid",
    "q_sql_subqueries", "q_tpch_q18", "q_tpch_q14", "q_tpch_q21",
    "q_tpch_q17", "q_tpch_q22", "q_tpch_q19", "q_tpch_q4",
    "q_tpch_q13", "q_tpch_q16", "q_tpch_q7", "q_tpch_q8",
    "q_tpch_q15", "q_tpch_q2", "q_tpch_q9", "q_tpch_q12",
    # predicted r9 window (pre-run in r8 so next round inherits the
    # sweep): every join-bearing row — graph family, the temporal/
    # bloom/mark join family, the shingle-join dedup evals, and the
    # two heavy stats accumulators (their pure-ledger siblings are
    # 1-row-broadcast flat, proven in the r7 appendix)
    "q_graph_lpa_communities", "q_graph_kcore", "q_graph_assortativity",
    "q_join_bloom", "q_join_asof_tol", "q_join_time_window_semi",
    "q_join_time_window_anti", "q_join_mark", "q_join_asof_nearest",
    "q_llm_dup_size_hist", "q_llm_dedup_incremental", "q_llm_minhash_eval",
    "q_llm_minhash_mae", "q_llm_dedup_curve", "q_agg_bootstrap_ci",
    "q_agg_ols2", "q_event_calibration", "q_time_stl_strength",
    # rest of the never-checked backlog (r9 tail + predicted r10):
    # every join-bearing or eager-builder row, completing the
    # "entire backlog sf1-swept before its driver round" claim
    "q_llm_prefix_dup", "q_llm_gram_novelty",
    "q_llm_dedup_weights", "q_llm_preference_pairs",
    "q_llm_blocklist_filter", "q_llm_bpe_train", "q_llm_apply_bpe",
    "q_llm_collocations", "q_llm_bm25", "q_llm_kneser_ney",
    "q_llm_rouge", "q_llm_bleu", "q_llm_ppl_holdout", "q_llm_semdedup",
    "q_llm_hard_negatives", "q_llm_retrieval_eval", "q_llm_prf_expand",
    "q_llm_hubness", "q_tpch_q11", "q_tpch_q20",
    "pipe_llm_corpus_e2e", "pipe_events_e2e",
    # r9 window stretch (r8 verdict #8): the probe-panel MMR selector —
    # the one named heavy llm_vector row the r8 backlog sweep missed
    "q_llm_mmr_select",
    # r9 plan-shape changes re-swept under their NEW shapes: the
    # ledger-rank rewrite (mannwhitney above gets a fresh reading too;
    # kruskal gets its first) and rolling_corr's inlined domain guard
    "q_agg_kruskal", "q_win_rolling_corr",
]
JOIN_COMPOSITES = {
    "q_join_star", "q_tpch_q3", "q_tpch_q5", "q_join_smj", "q_tpch_q10",
    # r8: the widest window composites get composition lines too
    "q_tpch_q2", "q_tpch_q7", "q_tpch_q8", "q_tpch_q9", "q_tpch_q18",
    "q_tpch_q21", "q_join_spatial_grid",
}

#: final-plan node names of each join kind (AQE names a skew split apart)
JOIN_NODES = {
    "bhj": ("BroadcastHashJoin",),
    "smj": ("SortMergeJoin", "SortMergeJoin(skew=true)"),
    "shj": ("ShuffledHashJoin", "ShuffledHashJoin(skew=true)"),
}


def run_joins(df) -> dict[str, int]:
    """Run ``df`` to completion and count the joins of each kind in its
    AQE final plan."""
    nodes = run_final(df)
    return {
        kind: sum(nodes[n] for n in names)
        for kind, names in JOIN_NODES.items()
    }


def _pow10_unit(mx: int) -> int:
    return 10 ** math.ceil(math.log10(max(mx, 1) + 1))


def build(spark) -> None:
    shutil.rmtree(DST, ignore_errors=True)
    Path(DST).mkdir(parents=True)
    # shared shift units from the defining side's max
    units: dict[str, int] = {}
    for tbl, cols in _SHIFT_KEYS.items():
        df = spark.read.parquet(f"{SRC}/{tbl}.parquet")
        for c in cols:
            space = _SHARED_UNITS.get(c, c)
            mx = df.agg(F.max(c)).first()[0]
            units[space] = max(units.get(space, 0), _pow10_unit(int(mx)))
    for tbl in TABLES:
        src = spark.read.parquet(f"{SRC}/{tbl}.parquet")
        if tbl not in _SHIFT_KEYS:  # region / nation: constant dims
            src.write.mode("overwrite").parquet(f"{DST}/{tbl}.parquet")
            continue
        rep = src.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1)))
        )
        for c in _SHIFT_KEYS[tbl]:
            space = _SHARED_UNITS.get(c, c)
            rep = rep.withColumn(
                c, F.col(c) + F.col("_r") * F.lit(units[space])
            )
        if tbl == "events":
            rep = rep.withColumn(
                "ts", F.col("ts") + F.make_dt_interval(F.col("_r"))
            )
        rep.drop("_r").write.mode("overwrite").parquet(
            f"{DST}/{tbl}.parquet"
        )
        n0, n1 = src.count(), spark.read.parquet(
            f"{DST}/{tbl}.parquet"
        ).count()
        assert n1 == n0 * REPLICAS, (tbl, n0, n1)
        print(f"[build] {tbl}: {n0} -> {n1}", flush=True)


def main() -> None:
    spark = get_spark("sweep-sf1-synth")
    if "--rebuild" in sys.argv or not Path(DST).exists():
        t0 = time.perf_counter()
        build(spark)
        print(f"[build] done in {time.perf_counter() - t0:.1f}s", flush=True)
    specs = load_all()
    # optional positional name filter: sweep only the given queries
    # (fresh batches) instead of re-timing the whole historical list
    wanted = [a for a in sys.argv[1:] if not a.startswith("--")]
    sweep = [n for n in SWEEP if n in wanted] if wanted else SWEEP
    for name in sweep:
        # fn() INSIDE the timer: operators with eager work in their
        # builder (localCheckpoint loops — kcore/lpa/starcontract/BPE,
        # the banded-verify cell fit) do most of their computation
        # during construction, and timing only the count() under-reports
        # them by 10-100x (caught r8: lpa read 0.16 s at sf1 vs 2.66 s
        # at sf0.1 — impossible; the loop ran before the clock started)
        t0 = time.perf_counter()
        joins = run_joins(specs[name].fn(spark, DST))
        sec = round(time.perf_counter() - t0, 2)
        line = f"{name},{sec}"
        if name in JOIN_COMPOSITES:
            line += "".join(f",{k.upper()}={v}" for k, v in joins.items())
        print(line, flush=True)
        release_session_checkpoints(spark)
    spark.stop()


if __name__ == "__main__":
    main()
