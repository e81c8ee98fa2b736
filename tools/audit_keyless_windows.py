"""Registry-wide discovery pass for keyless Window nodes.

Walks every registered query's OPTIMIZED logical plan at the given SF
(default sf0.001) and prints the rows whose plan contains a Window with
an empty partitionSpec — the single-partition funnel the r8 verdict
kept on the radar.  Output feeds ``plan_audit.ALLOW_KEYLESS_WINDOW``;
``tests/test_plan_audit.py`` then enforces the allowlist.

Run:  PYTHONPATH=. python tools/audit_keyless_windows.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from weather_etl_spark.plan_audit import AUDIT_SKIP, keyless_windows
from weather_etl_spark.registry import load_all
from weather_etl_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="audit-keyless-windows")
    flagged = 0
    for name, spec in load_all().items():
        if name in AUDIT_SKIP:
            continue
        try:
            hits = keyless_windows(spec.fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            print(f"{name}\tERROR\t{exc}", flush=True)
            continue
        if hits:
            flagged += 1
            for h in hits:
                print(f"{name}\t{h}", flush=True)
    print(f"# flagged: {flagged}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
