"""Plan red-flag audit across the whole registry.

For every registered operator, build (don't execute) its DataFrame at
the audit SF and look for the plan shapes that decide whether it
survives a 100x scale-up:

- keyless join (no equi-join key, walked on the optimized logical
  plan) — planned as a ``CartesianProduct`` or a
  ``BroadcastNestedLoopJoin``: fine when Catalyst bounds one side
  (``maxRows`` of a 1-row aggregate crossJoin, a LIMIT, a
  ``range(k)``) by ``plan_audit.MAX_KEYLESS_ROWS``, fatal when it
  pairs two large relations.
- keyless ``Window`` (empty partitionSpec) — a single-partition
  funnel; fine when Catalyst bounds its input the same way.
- ``BatchEvalPython`` / ``BatchEvalPythonUDTF`` — row-at-a-time Python,
  the ~100x-slower-than-Arrow path; allowed only in the two operators
  whose PURPOSE is to demonstrate that path next to its vectorized
  twin.
- ``Exchange`` count — shuffles; reported so a diff review catches a
  plan that silently gained one.

Every physical fact comes from one walk of the Catalyst tree
(``plan_audit.plan_nodes``), never from ``explain()`` text.

A keyless join or Window that Catalyst cannot bound is admissible only
when its query is listed, with the bound Catalyst cannot see, in
``plan_audit.ALLOW_UNBOUNDED_JOIN`` or ``plan_audit.ALLOW_KEYLESS_WINDOW``;
``plan_audit.plan_audit`` gives the verdict.

Usage: ``python tools/audit_plans.py [sf_dir]`` prints one CSV row per
operator (name, exchanges, each keyless node as
``kind:rows`` with ``inf`` for unbounded, disallowed findings) and a
summary; exits non-zero if a disallowed finding appears.
tests/test_plan_audit.py runs the same verdict as a pytest invariant.

Note: calling an operator's builder executes any *driver-side plan
inputs* it needs (bounded collect()s such as k-means centroids or the
star-contract fixpoint), so the audit takes a few minutes; the plans
themselves are never executed.
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from weather_etl_spark.plan_audit import (  # noqa: E402
    keyless,
    plan_audit,
    plan_nodes,
)
from weather_etl_spark.registry import load_all  # noqa: E402
from weather_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    bad: list[str] = []
    print("name,exchanges,keyless,disallowed")
    for name, spec in sorted(load_all().items()):
        df = spec.fn(spark, sf_dir)
        nodes = plan_nodes(df)
        found = plan_audit(name, df, nodes)
        bad.extend(f"{name}:{f}" for f in found)
        shapes = "|".join(
            f"{k.kind}:{'inf' if k.rows is None else k.rows}"
            for k in keyless(df)
        )
        print(
            f"{name},{nodes['Exchange']},{shapes or '-'},"
            f"{'|'.join(found) or '-'}"
        )
    if bad:
        print(f"DISALLOWED: {bad}", file=sys.stderr)
        sys.exit(1)
    print("plan audit clean", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
