"""Regenerate tests/plan_snapshot.json — the committed per-query
shuffle ledger.

For every registered query, build (don't execute) its DataFrame under
the EXACT conditions of the test session (sf0.01, local[8], 8 shuffle
partitions — see tests/conftest.py) and record the physical plan's
shuffle-Exchange count.  ``tests/test_plan_audit.py`` compares each
plan against this snapshot, so an edit that silently adds or removes
a shuffle fails the suite with a diff; if the plan change is
intended, re-run this tool and commit the new snapshot alongside the
code change.

Run:  PYTHONPATH=. python tools/emit_plan_snapshot.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from weather_etl_spark.plan_audit import plan_nodes
from weather_etl_spark.registry import load_all
from weather_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
OUT = ROOT / "tests" / "plan_snapshot.json"


def main() -> None:
    spark = get_spark(
        app_name="emit-plan-snapshot", master="local[8]",
        shuffle_partitions=8,
    )
    snap: dict[str, int] = {}
    for name, spec in sorted(load_all().items()):
        snap[name] = plan_nodes(spec.fn(spark, SF_DIR))["Exchange"]
        print(f"{name},{snap[name]}", flush=True)
    OUT.write_text(json.dumps(snap, indent=0, sort_keys=True) + "\n")
    print(f"wrote {OUT} ({len(snap)} rows)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
