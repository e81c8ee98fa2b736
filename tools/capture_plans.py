"""Capture ``explain("formatted")`` for a set of queries to plans/<tag>/.

Usage:  PYTHONPATH=. python tools/capture_plans.py <tag> <suffix> [name ...]

Writes ``plans/<tag>/<query>_<suffix>.txt`` for each named query (default:
the bench.py headline + LLM + TPCH sections) and prints one line per
query with its ``Scan parquet``, ``Exchange`` (shuffle) and
``BroadcastNestedLoopJoin`` counts, taken from the walked physical plan
(``plan_audit.plan_nodes``; a ``BroadcastExchange`` or
``ReusedExchange`` is not an ``Exchange``) — plan evidence comes from
this output, not from greps over the files.  Plan-only — nothing is
executed, so it is safe to run alongside other work.
"""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from bench import HEADLINE, LLM_SECTION, TPCH_SECTION  # noqa: E402
from weather_etl_spark.plan_audit import plan_nodes  # noqa: E402
from weather_etl_spark.registry import load_all  # noqa: E402
from weather_etl_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
COUNTED = ("Scan parquet", "Exchange", "BroadcastNestedLoopJoin")


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or (HEADLINE + LLM_SECTION + TPCH_SECTION)
    out_dir = ROOT / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="capture-plans")
    specs = load_all()
    for name in names:
        try:
            df = specs[name].fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            nodes = plan_nodes(df)
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {type(e).__name__}: {e}"
            nodes = Counter()
        (out_dir / f"{name}_{suffix}.txt").write_text(plan)
        counts = ", ".join(f"{k}={nodes[k]}" for k in COUNTED)
        print(f"{name}: {counts}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
