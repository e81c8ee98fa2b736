"""Registry-wide plan invariants (see tools/audit_plans.py).

test_scale_plans.py pins the exact plan shape of individual operators;
this file sweeps EVERY registered operator for the red flags that are
never acceptable by accident at 100 TB: a keyless join or a keyless
Window that Catalyst cannot bound and no residual ledger lists, and
row-at-a-time Python outside the two deliberate slow-path demos.
Plans are built and scanned, never executed (only driver-side plan
inputs — bounded collect()s such as centroid sets — run).
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

pytestmark = pytest.mark.full  # heavy lane (see pytest.ini)

from weather_etl_spark.plan_audit import (
    RESIDUAL,
    keyless,
    plan_audit,
    plan_nodes,
)
from weather_etl_spark.registry import load_all

SPECS = load_all()
NAMES = sorted(SPECS)

#: Committed per-query shuffle ledger (tools/emit_plan_snapshot.py):
#: the number of shuffle Exchanges in each plan at the test SF.  A
#: mismatch means an edit changed a plan's shuffle count — intended
#: changes regenerate the snapshot in the same commit.
SNAPSHOT: dict[str, int] = json.loads(
    (Path(__file__).parent / "plan_snapshot.json").read_text()
)


@pytest.mark.parametrize("name", NAMES)
def test_no_disallowed_plan_nodes(spark, sf_dir, name):
    df = SPECS[name].fn(spark, sf_dir)
    nodes = plan_nodes(df)
    bad = plan_audit(name, df, nodes)
    tree = df._jdf.queryExecution().executedPlan
    assert not bad, f"{name}: disallowed plan shape(s) {bad}\n{tree()}"
    # shuffle-count regression net: the committed snapshot pins every
    # plan's Exchange count; a silently-gained shuffle fails here
    assert name in SNAPSHOT, (
        f"{name}: not in tests/plan_snapshot.json — regenerate with "
        "tools/emit_plan_snapshot.py"
    )
    assert nodes["Exchange"] == SNAPSHOT[name], (
        f"{name}: plan has {nodes['Exchange']} shuffle Exchanges, "
        f"snapshot says {SNAPSHOT[name]} — if the plan change is "
        "intended, regenerate tests/plan_snapshot.json "
        "(tools/emit_plan_snapshot.py) in the same commit\n"
        f"{tree()}"
    )


@pytest.mark.parametrize(
    "kind,name",
    [(kind, name) for kind, ledger in RESIDUAL.items() for name in ledger],
)
def test_residual_ledgers_are_tight(spark, sf_dir, kind, name):
    """Every residual-ledger entry names a registered query whose plan
    still has a keyless node of its kind that Catalyst cannot bound:
    an entry the rule now derives, or one left behind by a rename or
    a plan change, is stale and must be deleted."""
    assert name in SPECS, f"{kind} ledger names unregistered query {name}"
    found = keyless(SPECS[name].fn(spark, sf_dir))
    assert any(k.kind == kind and not k.bounded for k in found), (
        f"{name}: listed in the {kind} ledger but its plan has no "
        f"unbounded keyless {kind}: {[str(k) for k in found]}"
    )


def test_plan_snapshot_is_tight():
    """The snapshot covers exactly the audited registry — no stale
    rows after a rename/deletion, no missing rows after a
    registration."""
    assert set(SNAPSHOT) == set(NAMES), (
        f"stale: {sorted(set(SNAPSHOT) - set(NAMES))} "
        f"missing: {sorted(set(NAMES) - set(SNAPSHOT))}"
    )


def test_sf1_plan_snapshot_pins_heaviest_selection():
    """tests/plan_snapshot_sf1.json (r9 verdict order #7) must cover
    exactly the TOP_N shuffle-heaviest snapshot rows (TOP_N lives in
    the tool — 60 since the r10 widening) per the mechanical selection
    rule, inline the committed sf0.01 counts it claims to diff
    against, and carry the join composition fields — so the 10x
    ledger can't silently drift from the sf0.01 snapshot it annotates.
    Rows emitted before the tool ran each query through its own
    QueryExecution carry exec_bhj/exec_smj/exec_shj counts of the
    pre-execution plan, which AQE never finalized (see the tool's
    docstring); a re-emission records the final plan's.  Regenerate
    with tools/emit_plan_snapshot_sf1.py when plan_snapshot.json moves
    a top-TOP_N row."""
    import sys

    root = str(Path(__file__).resolve().parent.parent)
    if root not in sys.path:
        sys.path.insert(0, root)
    from tools.emit_plan_snapshot_sf1 import TOP_N, heaviest

    path = Path(__file__).parent / "plan_snapshot_sf1.json"
    assert path.exists(), (
        "plan_snapshot_sf1.json missing — run "
        "tools/emit_plan_snapshot_sf1.py"
    )
    ledger = json.loads(path.read_text())
    want = set(heaviest(TOP_N))
    # The ledger must cover AT LEAST the mechanical top-TOP_N
    # selection; a SUPERSET is the r10 verdict's order #5 executed
    # (one full-width 379-row run, after which per-round cost drops
    # back to diffing) — extra rows never weaken the pin.
    assert want <= set(ledger), (
        f"sf1 ledger no longer covers the top-{TOP_N} selection — "
        f"missing: {sorted(want - set(ledger))}"
    )
    for name, row in ledger.items():
        if "error" in row:
            continue  # errored rows print separately in the tool
        assert name not in SNAPSHOT or (
            row["sf001_exchanges"] == SNAPSHOT[name]
        ), (
            f"{name}: ledger inlines sf0.01 count {row['sf001_exchanges']} "
            f"but the committed snapshot says {SNAPSHOT[name]} — "
            "regenerate the sf1 ledger"
        )
        for field in ("static_exchanges", "exec_bhj", "exec_smj",
                      "exec_shj", "seconds"):
            assert field in row, f"{name}: ledger row missing {field}"
    # errored rows must never hide a top-selection member
    errored = {n for n, r in ledger.items() if "error" in r}
    assert not (errored & want), (
        f"top-{TOP_N} rows errored in the sf1 ledger: "
        f"{sorted(errored & want)}"
    )
