"""Scan physical plans for the node types that decide 100 TB survival.

Shared by ``tools/audit_plans.py`` (CSV report over the registry) and
``tests/test_plan_audit.py`` (pytest invariant).  See the tool's
docstring for what each flag means and why it is (dis)allowed.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

#: Operators whose plans legitimately contain a keyless join node.
#: ``CartesianProduct``: only the operator that MEANS cross join.
ALLOW_CARTESIAN = frozenset({"q_join_cross"})

#: ``BroadcastNestedLoopJoin`` is admissible only when one side is
#: provably bounded (a 1-row aggregate, a <=k-row probe/centroid set,
#: a bounded pattern table) or the operator is the documented naive
#: oracle twin of a banded/blocked scale path.  Populated empirically
#: by tools/audit_plans.py; every entry carries its bound.
ALLOW_BNL: dict[str, str] = {
    "q_join_cross": "the operator MEANS cross join (region x nation dims)",
    "q_filter_ts_cursor": "1-row MAX(ts) cursor aggregate "
    "(operators/scans.py::q_filter_ts_cursor)",
    "q_graph_pagerank": "1-row node-count aggregate "
    "(operators/graph.py::pagerank_frame)",
    "q_llm_domain_mix": "1-row corpus-total aggregate "
    "(operators/llm_prep.py::q_llm_domain_mix)",
    "q_llm_zipf": "1-row token-total aggregate (llm_prep.py)",
    "q_llm_tfidf": "1-row n_docs aggregate "
    "(operators/llm_text.py::q_llm_tfidf)",
    "q_llm_knn": "5-row constant probe matrix "
    "(operators/llm_vector.py::q_llm_knn)",
    "q_llm_retrieval_eval": "10-row constant probe panel crossed into "
    "the corpus scan — the q_llm_knn pattern (llm_vector.py)",
    "q_llm_mmr_select": "3-row constant probe set crossed into the "
    "candidate scan — the q_llm_knn pattern (llm_vector.py)",
    "q_llm_prf_expand": "3-row probe / expanded-query panels crossed "
    "into the two corpus scans — the q_llm_knn pattern, twice "
    "(llm_vector.py)",
    "q_ldiversity": "1-row label-total aggregate + the QI x label "
    "zero-cell grid from broadcast ledgers — the q_agg_chisq "
    "pattern (analytics.py)",
    "q_event_calibration": "1-row test-total aggregate crossed into "
    "the 24-row bucket ledger — the q_filter_ts_cursor pattern "
    "(drift.py)",
    "q_fn_geo": "1-row anchor-point aggregate crossed into the "
    "bounded point set — the q_filter_ts_cursor pattern "
    "(functions/scalar.py)",
    "q_llm_ppl_holdout": "1-row train-vocab-size aggregate crossed "
    "into the test bigram stream — the q_filter_ts_cursor pattern "
    "(llm_text.py)",
    "q_llm_log_odds": "1-row group-total aggregate crossed into the "
    "vocabulary ledger — the q_filter_ts_cursor pattern "
    "(llm_text.py)",
    "q_llm_heaps_law": "docs/50-row checkpoint ledger broadcast into "
    "two range joins (cumulative tokens / cumulative vocab) — "
    "bounded by the checkpoint count (llm_prep.py)",
    "q_llm_collocations": "1-row token-total aggregate crossed into "
    "the bigram ledger — the q_filter_ts_cursor pattern "
    "(llm_prep.py)",
    "q_llm_dedup_curve": "9-row threshold ledger + 1-row doc total "
    "crossed into the inverted-index pair ledger — bounded "
    "broadcast sides (llm_dedup.py)",
    "q_llm_cooccur_window": "1-row token-total aggregate crossed "
    "into the pair ledger — the q_filter_ts_cursor pattern; the "
    "positional join itself is the doc_id equi-join (llm_prep.py)",
    "q_time_interp": "bounded generated day axis per the gapfill grid "
    "(operators/aggregates.py::q_time_interp)",
    "q_llm_cosine_pairs": "deliberate naive all-pairs oracle twin of "
    "llm_cosine_pairs_blocked (SCALE.md §10)",
    "q_llm_align_uniform": "deliberate eval-only all-pairs metric "
    "over the bounded embeddings fixture; pair-sampled at scale "
    "(llm_vector.py)",
    "q_llm_hubness": "deliberate eval-only all-pairs k-occurrence "
    "ranking over the bounded embeddings fixture; ANN answer lists "
    "at scale (llm_vector.py)",
    "q_llm_embed_dedup": "deliberate naive all-pairs oracle twin of "
    "llm_embed_dedup_blocked (SCALE.md §10)",
    "q_sample_weighted": "1-row MAX(w_cents) aggregate — the "
    "q_filter_ts_cursor pattern (analytics.py)",
    "q_event_rfm": "1-row MAX(ts) recency anchor — the "
    "q_filter_ts_cursor pattern (stats_ext.py)",
    "q_event_cooccurrence": "1-row distinct-user-count universe — the "
    "q_filter_ts_cursor pattern (drift.py)",
    "q_agg_mutual_info": "1-row total-count aggregate crossed into the "
    "bounded cell grid (drift.py) — the q_filter_ts_cursor pattern",
    "q_agg_kl_divergence": "two 1-row total-count aggregates crossed "
    "into the 24-bin grid (drift.py) — the q_filter_ts_cursor pattern",
    "q_agg_js_divergence": "two 1-row total-count aggregates crossed "
    "into the 24-bin grid (drift.py) — the q_filter_ts_cursor pattern",
    "q_llm_entropy_rate": "1-row bigram-total aggregate crossed into "
    "the entropy reduction (llm_text.py) — the q_filter_ts_cursor "
    "pattern",
    "q_agg_benford": "1-row digit-count total crossed into the 9-row "
    "ledger — the q_filter_ts_cursor pattern (drift.py)",
    "q_agg_cms_portable": "constant 4-row depth axis, 1-row state "
    "checksum, 5-row probe set — all bounded by sketch geometry "
    "(aggregates.py)",
    "q_join_bloom": "constant 3-row hash-index axis + three 1-row "
    "count aggregates assembled into the summary row (joins.py)",
    "q_graph_triangles": "three 1-row count aggregates crossed into "
    "the single summary row (graph.py)",
    "q_llm_dsir": "1-row corpus-total aggregate; the 64-row log-ratio "
    "table itself joins hash-keyed on b (llm_prep.py)",
    "q_agg_hist_quantile": "constant 3-row quantile axis x <=64-bin "
    "histogram + 1-row total — all bounded by sketch geometry "
    "(aggregates.py)",
    "q_dq_audit": "per-check 1-row violation x 1-row population "
    "aggregates assembled into the fixed check list (analytics.py)",
    "q_agg_kmv_intersect": "two 1-row sketch aggregates (union k-th "
    "min x overlap count) crossed into the single estimate row "
    "(aggregates.py)",
    "q_skew_profile": "1-row totals x two 1-row percentile aggregates "
    "over the key-cardinality table (analytics.py)",
    "q_agg_chisq": "1-row total + two 1-row marginal-cardinality "
    "aggregates crossed into the bounded (types x 24) grid — the "
    "q_agg_mutual_info pattern (drift.py)",
    "q_ab_cuped": "1-row split-date and 1-row pooled-theta frames "
    "crossed into the user/arm ledgers — the q_filter_ts_cursor "
    "pattern (analytics.py)",
    "q_llm_filter_funnel": "constant 4-row stage axis range-joined "
    "to the <=5-row kill ledger + 1-row total — all funnel-geometry "
    "bounded (llm_text.py)",
    "q_event_decay_score": "1-row corpus-max-day anchor crossed into "
    "the event scan — the q_filter_ts_cursor pattern (eventseq.py)",
    "q_tpch_q22": "1-row positive-balance average crossed into the "
    "customer scan — the q_filter_ts_cursor pattern (tpch.py)",
    "q_llm_bm25": "1-row (N, avgdl) corpus aggregate crossed into the "
    "3-term tf frame — the q_filter_ts_cursor pattern (llm_text.py)",
    "q_agg_kruskal": "1-row rank-ledger x 1-row tie-term crossJoin — "
    "the q_filter_ts_cursor pattern (drift.py)",
    "q_llm_hard_negatives": "5-row constant anchor matrix — the "
    "q_llm_knn bounded-probe pattern (llm_vector.py)",
    "q_llm_kneser_ney": "1-row (B, T) bigram-total aggregate crossed "
    "into the count-table join — the q_llm_entropy_rate pattern "
    "(llm_text.py)",
    "q_event_time_to_convert": "1-row viewer-count aggregate crossed "
    "into the 1-row latency ledger — the q_filter_ts_cursor pattern "
    "(eventseq.py)",
    "q_agg_quantile_eval": "constant 3-row quantile axis x <=64-bin "
    "cumulative ledger — the q_agg_hist_quantile crossing pattern "
    "(aggregates.py)",
    "q_tpch_q11": "1-row grand-total aggregate crossed into the "
    "part-value ledger — the HAVING decorrelation (tpch.py)",
}

#: Row-at-a-time Python — only the deliberate slow-path demos that
#: exist to be measured against their vectorized twins.
ALLOW_ROW_PYTHON = frozenset({"q_udf_py", "q_udtf_py"})

#: A ``Window`` with an EMPTY partitionSpec funnels its whole input
#: through one task (Exchange SinglePartition), so it is admissible
#: only when the input is provably bounded: a pre-aggregated ledger
#: (distinct values / vocab / bins / days), a constant probe panel, or
#: an operator whose OUTPUT semantics is the global per-row rank.
#: Discovered empirically (tools/audit_plans.py walks the optimized
#: logical plan); every entry carries its bound.  This mechanizes the
#: r8 verdict's "single-partition window ledgers" radar item.
ALLOW_KEYLESS_WINDOW: dict[str, str] = {
    "q_agg_mannwhitney": "running sum over the |distinct cent values| "
    "ledger (r9 prefix-count rank rewrite — no per-row sort reaches "
    "the window, drift.py)",
    "q_agg_kruskal": "same distinct-value ledger as q_agg_mannwhitney "
    "(drift.py)",
    "q_agg_ks_test": "ECDF prefix sums over the value-ordered ledger; "
    "bin-ledger rewrite documented for 100 TB, this exact form is its "
    "oracle (drift.py)",
    "q_agg_pareto": "ranking over the customer-dim revenue ledger "
    "(events pre-reduced map-side; bin-ledger rewrite documented, "
    "drift.py)",
    "q_agg_hist_quantile": "cumulative window over <=64 histogram "
    "bins — constant at any input size (aggregates.py)",
    "q_agg_quantile_eval": "same <=64-bin cumulative ledger as "
    "q_agg_hist_quantile (aggregates.py)",
    "q_agg_kmv_intersect": "bottom-8 order statistics — "
    "WindowGroupLimit rank pushdown caps each partition's "
    "contribution at sketch size (aggregates.py)",
    "q_skew_profile": "profile reduction over the key-cardinality "
    "ledger, not rows — the operator IS the skew pre-flight "
    "(analytics.py)",
    "q_event_survival": "KM ledger bounded by the observation window "
    "(<= span-days rows) after per-user span aggregation "
    "(eventseq.py)",
    "q_event_rfm": "ntile over the USER ledger (events pre-reduced); "
    "bin-ledger decomposition documented for 1e9 users, this exact "
    "form is its oracle (stats_ext.py)",
    "q_rank_fusion": "rank<=200 compiles to WindowGroupLimit — "
    "per-partition top-N heaps feed the window with N rows per "
    "partition, never the corpus (eventseq.py)",
    "q_layout_compaction": "prefix sum over file METADATA (one row "
    "per file), kilobytes per row at 100 TB (layout.py)",
    "q_llm_zipf": "top-20 TakeOrderedAndProject over the vocabulary "
    "ledger feeds the rank window (llm_prep.py)",
    "q_llm_bpe_pairs": "top-20 pair ledger — TakeOrderedAndProject, "
    "per-partition heaps (llm_prep.py)",
    "q_llm_token_budget": "running sum over the 1000-row bin ledger; "
    "per-bin windows run partition-parallel (llm_prep.py)",
    "q_llm_vocab_coverage": "ranked cumulative window over the "
    "vocabulary ledger; two-level range-partitioned ranking "
    "documented for 100 TB (llm_prep.py)",
    "q_llm_length_hist": "share normalization over ~hundreds of "
    "bucket keys of aggregate output (llm_text.py)",
    "q_win_ntile": "deliberate global-ntile surface row — the OUTPUT "
    "is the per-row global quartile; approx-percentile bucketing "
    "documented for 100 TB (windows.py)",
    "q_win_rolling_corr": "7-row rolling frame over the day-ordered "
    "daily ledger (one row per day; per-series partitions in "
    "multi-metric deployments, windows.py)",
}

#: Operators excluded from plan audit, with the reason.
AUDIT_SKIP: dict[str, str] = {}


@dataclass
class PlanReport:
    exchanges: int
    codegen_spans: int
    nodes: set[str] = field(default_factory=set)
    text: str = ""

    FLAG_NODES = frozenset(
        {
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "BatchEvalPython",
            "BatchEvalPythonUDTF",
        }
    )


def plan_text(df: DataFrame) -> str:
    """The simple-mode physical plan string (codegen stars included)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def audit_plan(df: DataFrame) -> PlanReport:
    text = plan_text(df)
    nodes = set()
    for flag in PlanReport.FLAG_NODES:
        # word-boundary match so BatchEvalPython != BatchEvalPythonUDTF
        if re.search(rf"\b{flag}\b(?!UDTF)" if flag == "BatchEvalPython"
                     else rf"\b{flag}\b", text):
            nodes.add(flag)
    exchanges = len(re.findall(r"\bExchange\b", text))
    codegen_ids = set(re.findall(r"\*\((\d+)\)", text))
    return PlanReport(
        exchanges=exchanges,
        codegen_spans=len(codegen_ids),
        nodes=nodes,
        text=text,
    )


def _iter_logical(node):
    """Yield every node of a Catalyst logical plan, including the plans
    hanging off subquery expressions (py4j traversal)."""
    yield node
    children = node.children()
    for i in range(children.length()):
        yield from _iter_logical(children.apply(i))
    try:
        subs = node.subqueries()
        for i in range(subs.length()):
            yield from _iter_logical(subs.apply(i))
    except Exception:
        pass  # node types without subquery support


def keyless_windows(df: DataFrame) -> list[str]:
    """Window nodes in the OPTIMIZED logical plan whose partitionSpec is
    empty — each forces an Exchange SinglePartition over its input.
    Returns one summary string per offending node (window expressions),
    empty when the plan is clean."""
    plan = df._jdf.queryExecution().optimizedPlan()
    hits = []
    for node in _iter_logical(plan):
        if node.nodeName() != "Window":
            continue
        if node.partitionSpec().isEmpty():
            exprs = node.windowExpressions()
            names = [
                exprs.apply(i).name() for i in range(exprs.length())
            ]
            hits.append("Window[no partitionBy] -> " + ", ".join(names))
    return hits


def disallowed_flags(name: str, report: PlanReport) -> list[str]:
    bad = []
    if "CartesianProduct" in report.nodes and name not in ALLOW_CARTESIAN:
        bad.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in report.nodes and name not in ALLOW_BNL:
        bad.append("BroadcastNestedLoopJoin")
    if (
        report.nodes & {"BatchEvalPython", "BatchEvalPythonUDTF"}
        and name not in ALLOW_ROW_PYTHON
    ):
        bad.append("row-at-a-time Python")
    return bad
