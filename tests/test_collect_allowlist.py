"""Driver-side data pulls are pinned to an allowlist with declared bounds.

The 100 TB contract says no operator may funnel row-scale data to the
driver.  The r8 verdict's anti-pattern sweep verified by reading that
every ``collect()`` in the package sits on a bounded relation; this
test mechanizes that sweep: AST-walk the whole package for the
unbounded-pull primitives (``collect`` / ``toPandas`` /
``collectAsMap`` / ``toLocalIterator``) and require each call site's
enclosing function to carry a declared bound below.  A new pull
anywhere else fails the suite with its location.

Scalar actions (``count`` — fixpoint conditions, accounting rows) and
1-row pulls (``first`` on aggregates) are out of scope: their driver
transfer is O(1) by construction.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

pytestmark = pytest.mark.fast

PKG = Path(__file__).resolve().parent.parent / "weather_etl_spark"

PULL_ATTRS = frozenset(
    {"collect", "toPandas", "collectAsMap", "toLocalIterator"}
)

#: "<relpath>::<enclosing function>" -> the bound that keeps the pull
#: driver-safe at any input scale.
ALLOWED_PULLS: dict[str, str] = {
    "operators/llm_dedup.py::_banded_cells": "k cell radii — one row "
    "per k-means cell, k is a constant of the blocking scheme",
    "operators/llm_dedup.py::star_contract": "hybrid union-find "
    "finish — the pull is limit(2^17 + 1): it finishes locally only "
    "when it returns <= 2^17 edges (~2 MB); larger edge sets stay in "
    "the distributed rounds",
    "operators/llm_vector.py::lloyd_kmeans": "k seed vectors + k "
    "centroid rows per Lloyd round — k x dim floats, input-size "
    "independent",
    "operators/llm_vector.py::llm_knn_blocked": "constant probe "
    "matrix (5 x 64 floats) broadcast into the Arrow-batch scorer",
}


def _pull_sites() -> set[str]:
    sites: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())

        def walk(node: ast.AST, stack: list[str]) -> None:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                stack = stack + [node.name]
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in PULL_ATTRS
            ):
                sites.add(f"{rel}::{stack[-1] if stack else '<module>'}")
            for child in ast.iter_child_nodes(node):
                walk(child, stack)

        walk(tree, [])
    return sites


def test_every_driver_pull_is_allowlisted():
    undeclared = _pull_sites() - set(ALLOWED_PULLS)
    assert not undeclared, (
        "driver-side pull without a declared bound (add to "
        f"ALLOWED_PULLS with its bound, or remove the pull): {sorted(undeclared)}"
    )


def test_pull_allowlist_is_tight():
    """Allowlist entries must correspond to live call sites, so a
    refactor that removes a pull also removes its stale reason."""
    stale = set(ALLOWED_PULLS) - _pull_sites()
    assert not stale, f"allowlist entries with no call site: {sorted(stale)}"


#: RDD-surface primitives the package must not use: the engine is
#: DataFrame-declarative end to end (Catalyst sees every plan), and
#: per-partition imperative logic goes through mapInPandas /
#: applyInPandas (Arrow-batched, schema-checked) instead.
RDD_ATTRS = frozenset({"rdd", "mapPartitions", "parallelize"})


def test_no_rdd_surface():
    offenders: list[str] = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr in RDD_ATTRS:
                offenders.append(f"{rel}:{node.lineno} .{node.attr}")
    assert not offenders, f"RDD-surface usage: {offenders}"
