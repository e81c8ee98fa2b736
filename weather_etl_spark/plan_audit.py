"""Scan query plans for the shapes that decide 100 TB survival.

Shared by ``tools/audit_plans.py`` (CSV report over the registry) and
``tests/test_plan_audit.py`` (pytest invariant); both take their
verdict from :func:`plan_audit`.  See the tool's docstring for what
each finding means and why it is (dis)allowed.  Every plan fact the
tools and tests read comes from the one tree walk here (:func:`_walk`,
:func:`plan_nodes`), never from ``explain()`` text.
"""

from __future__ import annotations

from collections import Counter
from typing import NamedTuple

from pyspark.sql import DataFrame

#: A keyless join (no equi-join key: planned as a CartesianProduct or a
#: BroadcastNestedLoopJoin) is admissible when Catalyst bounds one side
#: (``LogicalPlan.maxRows``: 1 for a global aggregate, k for a LIMIT or
#: a ``range(k)``) by this many rows, and a keyless Window when Catalyst
#: bounds its input by it: the broadcast or the single-partition funnel
#: then stays constant at any input size.
MAX_KEYLESS_ROWS = 1000

#: Keyless joins with neither side bounded by Catalyst: admissible only
#: with the bound Catalyst cannot see (a filtered probe panel, a
#: generated axis) or as the documented naive twin of a blocked scale
#: path.  Every entry carries its bound.
ALLOW_UNBOUNDED_JOIN: dict[str, str] = {
    "q_join_cross": "the operator MEANS cross join (region x nation dims)",
    "q_agg_chisq": "event-type marginal x 24 hour-of-day marginal: "
    "the bounded (types x 24) expected-count grid (drift.py)",
    "q_fn_geo": "1-row anchor point (vec_id = 0) crossed into the "
    "<=51-row point set (vec_id <= 50) — key filters Catalyst does "
    "not bound (functions/scalar.py)",
    "q_ldiversity": "1-row label-total aggregate + the QI x label "
    "zero-cell grid from broadcast ledgers — the q_agg_chisq "
    "pattern (analytics.py)",
    "q_time_interp": "bounded generated day axis per the gapfill grid "
    "(operators/aggregates.py::q_time_interp)",
    "q_llm_align_uniform": "deliberate eval-only all-pairs metric "
    "over the bounded embeddings fixture; pair-sampled at scale "
    "(llm_vector.py)",
    "q_llm_cosine_pairs": "deliberate naive all-pairs oracle twin of "
    "llm_cosine_pairs_blocked (SCALE.md §10)",
    "q_llm_embed_dedup": "deliberate naive all-pairs oracle twin of "
    "llm_embed_dedup_blocked (SCALE.md §10)",
    "q_llm_hard_negatives": "5-row constant anchor matrix — the "
    "q_llm_knn bounded-probe pattern (llm_vector.py)",
    "q_llm_hubness": "deliberate eval-only all-pairs k-occurrence "
    "ranking over the bounded embeddings fixture; ANN answer lists "
    "at scale (llm_vector.py)",
    "q_llm_knn": "5-row constant probe matrix "
    "(operators/llm_vector.py::q_llm_knn)",
    "q_llm_mmr_select": "3-row constant probe set crossed into the "
    "candidate scan — the q_llm_knn pattern (llm_vector.py)",
    "q_llm_prf_expand": "3-row probe / expanded-query panels crossed "
    "into the two corpus scans — the q_llm_knn pattern, twice "
    "(llm_vector.py)",
    "q_llm_retrieval_eval": "10-row constant probe panel crossed into "
    "the corpus scan — the q_llm_knn pattern (llm_vector.py)",
}

#: Row-at-a-time Python — only the deliberate slow-path demos that
#: exist to be measured against their vectorized twins.
ALLOW_ROW_PYTHON = frozenset({"q_udf_py", "q_udtf_py"})

#: A ``Window`` with an EMPTY partitionSpec funnels its whole input
#: through one task (Exchange SinglePartition).  These are the keyless
#: Windows whose input Catalyst does not bound: admissible only over a
#: pre-aggregated ledger (distinct values / vocab / bins / days), a
#: constant probe panel, or where the OUTPUT semantics is the global
#: per-row rank.  Every entry carries its bound.
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
    "q_llm_heaps_law": "running token and first-seen-word sums over "
    "the block ledger (one row per 50 doc_ids): docs/50 rows on one "
    "task, 2e7 rows for 1e9 documents; everything before it is "
    "partition-parallel and linear in the corpus (llm_prep.py)",
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

#: Which residual ledger admits an unbounded keyless node of each kind.
RESIDUAL: dict[str, dict[str, str]] = {
    "join": ALLOW_UNBOUNDED_JOIN,
    "window": ALLOW_KEYLESS_WINDOW,
}


class Keyless(NamedTuple):
    """A join without an equi-join key or a Window without a
    partitionSpec; ``rows`` is Catalyst's bound on the join's smaller
    side or the Window's input (None when it has none)."""

    kind: str  # "join" or "window"
    rows: int | None
    what: str

    @property
    def bounded(self) -> bool:
        return self.rows is not None and self.rows <= MAX_KEYLESS_ROWS

    def __str__(self) -> str:
        bound = "unbounded" if self.rows is None else f"<= {self.rows} rows"
        return f"{self.what} ({bound})"


def _walk(node):
    """Yield every node of a Catalyst plan, including the plans hanging
    off subquery expressions and, for an adaptive physical plan, its
    current plan and the plan inside each of its query stages (py4j
    traversal).  A ``ReusedExchange`` stays a leaf: the exchange it
    reuses is walked where it was planned."""
    yield node
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _walk(node.executedPlan())
    elif name.endswith("QueryStage"):
        yield from _walk(node.plan())
    for nodes in (node.children(), node.subqueries()):
        for i in range(nodes.length()):
            yield from _walk(nodes.apply(i))


def plan_nodes(df: DataFrame) -> Counter[str]:
    """How many times each physical node occurs in ``df``'s executed
    plan; ``nodes["Exchange"]`` is the shuffle count (a broadcast is a
    ``BroadcastExchange``).  Names are stripped: a path scan is named
    ``"Scan parquet "``.  Before ``df``'s own QueryExecution runs
    (:func:`run_final`), an adaptive plan is its initial plan."""
    executed = df._jdf.queryExecution().executedPlan()
    return Counter(node.nodeName().strip() for node in _walk(executed))


def run_final(df: DataFrame) -> Counter[str]:
    """Run ``df`` through its own QueryExecution and return the nodes of
    the AQE final plan.  ``df.count()`` or a noop write plans a new
    QueryExecution and leaves ``df``'s adaptive plan non-final."""
    df._jdf.queryExecution().toRdd().count()
    return plan_nodes(df)


def _max_rows(plan) -> int | None:
    bound = plan.maxRows()
    return bound.get() if bound.isDefined() else None


def keyless(df: DataFrame) -> list[Keyless]:
    """Joins without an equi-join key and Windows without a
    partitionSpec in the OPTIMIZED logical plan, each with Catalyst's
    row bound.  A keyless join plans as a CartesianProduct or a
    BroadcastNestedLoopJoin; a keyless Window forces an Exchange
    SinglePartition over its input."""
    catalyst = df.sparkSession._jvm.org.apache.spark.sql.catalyst
    equi_keys = catalyst.planning.ExtractEquiJoinKeys
    found = []
    for node in _walk(df._jdf.queryExecution().optimizedPlan()):
        name = node.nodeName()
        if name == "Join" and equi_keys.unapply(node).isEmpty():
            sides = [_max_rows(node.left()), _max_rows(node.right())]
            found.append(Keyless(
                "join",
                min((r for r in sides if r is not None), default=None),
                f"{node.joinType()} Join[no equi-join key]",
            ))
        elif name == "Window" and node.partitionSpec().isEmpty():
            exprs = node.windowExpressions()
            names = [exprs.apply(i).name() for i in range(exprs.length())]
            found.append(Keyless(
                "window",
                _max_rows(node.child()),
                "Window[no partitionBy] -> " + "/".join(names),
            ))
    return found


def plan_audit(name: str, df: DataFrame, nodes: Counter[str]) -> list[str]:
    """The disallowed findings of query ``name``: each keyless join or
    Window that Catalyst does not bound within ``MAX_KEYLESS_ROWS`` and
    its residual ledger does not list, and row-at-a-time Python outside
    ``ALLOW_ROW_PYTHON``.  Empty when the plan is admissible.  ``nodes``
    is ``plan_nodes(df)``, walked once by the caller."""
    bad = [
        str(k) for k in keyless(df)
        if not k.bounded and name not in RESIDUAL[k.kind]
    ]
    row_python = {"BatchEvalPython", "BatchEvalPythonUDTF"}
    if nodes.keys() & row_python and name not in ALLOW_ROW_PYTHON:
        bad.append("row-at-a-time Python")
    return bad
