"""Physical-plan red-flag audit across the whole registry.

For every registered operator, build (don't execute) its DataFrame at
the audit SF and scan the formatted physical plan for the node types
that decide whether the plan survives a 100x scale-up:

- ``CartesianProduct`` — O(n*m) without a join key; only the one
  operator that *means* cross join may contain it.
- ``BroadcastNestedLoopJoin`` — fine when one side is provably tiny
  (a 1-row aggregate crossJoin, a bounded probe matrix), fatal when it
  appears by accident on two large relations.
- ``BatchEvalPython`` / ``BatchEvalPythonUDTF`` — row-at-a-time Python,
  the ~100x-slower-than-Arrow path; allowed only in the two operators
  whose PURPOSE is to demonstrate that path next to its vectorized
  twin.
- ``Exchange`` count — shuffles; reported so a diff review catches a
  plan that silently gained one.
- ``WholeStageCodegen`` span count — reported for codegen coverage.
- keyless ``Window`` (empty partitionSpec, walked on the optimized
  logical plan) — a single-partition funnel; admissible only with a
  declared input bound in ``plan_audit.ALLOW_KEYLESS_WINDOW`` (ledger /
  probe-panel / dim-scale inputs, or rows whose OUTPUT is the global
  rank).

Usage: ``python tools/audit_plans.py [sf_dir]`` prints one CSV row per
operator (name, exchanges, codegen spans, flags) and a summary; exits
non-zero if a disallowed red flag appears.  tests/test_plan_audit.py
runs the same scan as a pytest invariant.

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
    ALLOW_KEYLESS_WINDOW,
    AUDIT_SKIP,
    audit_plan,
    disallowed_flags,
    keyless_windows,
)
from weather_etl_spark.registry import load_all  # noqa: E402
from weather_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    bad: list[str] = []
    print("name,exchanges,codegen_spans,flags,keyless_window")
    for name, spec in sorted(load_all().items()):
        if name in AUDIT_SKIP:
            print(f"{name},-,-,skipped({AUDIT_SKIP[name]}),-")
            continue
        df = spec.fn(spark, sf_dir)
        report = audit_plan(df)
        flags = disallowed_flags(name, report)
        kw = keyless_windows(df)
        if kw and name not in ALLOW_KEYLESS_WINDOW:
            flags = flags + ["keyless Window"]
        bad.extend(f"{name}:{f}" for f in flags)
        kw_col = "-" if not kw else (
            "allowed" if name in ALLOW_KEYLESS_WINDOW else "FLAGGED"
        )
        print(
            f"{name},{report.exchanges},{report.codegen_spans},"
            f"{'|'.join(sorted(report.nodes & report.FLAG_NODES)) or '-'},"
            f"{kw_col}"
        )
    if bad:
        print(f"DISALLOWED: {bad}", file=sys.stderr)
        sys.exit(1)
    print("plan audit clean", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
