"""The committed battery-coverage manifest (r7 verdict order #3).

Every registry row that has NEVER had a driver verdict must have its
semantics stressed OFF the clean fixture by at least one adversarial /
random battery — or carry a written justification here for why a
fabricated-data battery adds nothing.  This test recomputes both sides
from the repo state (CORRECTNESS_r*.json lineage vs the names
referenced in tests/test_*adversarial* / test_*random* files), so the
manifest cannot rot silently: a new never-checked registration without
battery coverage fails the suite until it is covered or justified.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from weather_etl_spark.registry import driver_lineage, load_all

#: Never-driver-checked rows for which a fabricated-data battery is
#: genuinely uninformative, each with the reason and the differential
#: test that covers the row instead.  Keep DISJOINT from battery
#: coverage: delete an entry the moment a battery reaches its row.
JUSTIFIED: dict[str, str] = {
    # -- sources: the operator FABRICATES its adversarial input --
    "src_csv_malformed": "op injects malformed CSV rows by construction "
    "and triages them; test_batch3_ops differential asserts the "
    "bad/good accounting against parquet ground truth",
    "src_json_malformed": "op injects malformed JSON rows by "
    "construction; same differential pattern as src_csv_malformed",
    "src_binaryfile": "path-bound binary-file source (rows-only by "
    "design); test_analytics_ops asserts per-file byte/stride "
    "accounting over files the test itself writes",
    "src_parquet_merge": "op writes two schema-divergent parquet "
    "generations itself and reads them mergeSchema'd; the test "
    "asserts the merged accounting — the adversarial input IS the op",
    "src_fetch_values": "the op's input IS a fixed deterministic "
    "payload (seeded fake transport, sf-independent); its VALUES "
    "oracle pins every cell, and the fetch edge behavior (NaN "
    "placement, retry envelope, wire framing) is covered by "
    "test_fetch_http / flatbuf codec tests — no data-dependent "
    "semantics exist for a battery to vary",
    "snk_jdbc_idem": "sink-state plumbing, not value arithmetic: the "
    "oracle pins only overlap-insert COUNTS, which a fabricated corpus "
    "would exercise identically; the conflict semantics themselves "
    "(planted-overlap second batch, duplicate-key rejection, timestamp "
    "round-trip fidelity) are asserted directly by test_jdbc_sink.py "
    "against data the test plants",
    # -- composites of individually battery-covered stages --
    "pipe_llm_corpus_e2e": "composite of gates/dedup/split stages, "
    "each independently battery-covered (text battery); e2e test "
    "asserts stage-count reconciliation + idempotent re-run",
    "pipe_events_e2e": "composite over events of battery-covered "
    "stages (drift battery); e2e test asserts funnel reconciliation "
    "+ idempotent re-run",
    # -- parquet-metadata plumbing, not value arithmetic --
    "q_scan_column_stats": "reads parquet footer min/max/null-count "
    "metadata; a fabricated corpus exercises the same footer codepath "
    "the 2-SF fixture parity already does — no tie/skew semantics "
    "exist in footer plumbing",
    "q_scan_partition_prune": "asserts partition-pruned scan shape "
    "over a dataset the test writes; covered by plan assertions "
    "(test_scale_plans), which are the operative semantics",
    # -- deterministic hash plumbing with exhaustive local checks --
    "q_sample_split3": "md5-bucket 3-way split; test_batch3_ops "
    "asserts exact per-bucket membership by recomputing the hash per "
    "row — already exhaustive over every key, no data shape changes "
    "the semantics",
    # -- sink round-trips whose payload the test fabricates --
    "snk_text_roundtrip": "whole-file text sink round-trip; payload "
    "(embedded newlines/quotes) is fabricated in the op and byte-"
    "summed in the differential test",
    "snk_csv_quoted": "CSV quoting round-trip over strings built to "
    "contain quotes/commas/newlines — the adversarial content is the "
    "op's own payload; differential asserts losslessness byte-by-byte",
    # -- UDF-surface plumbing rows (Arrow batch mechanics) --
    "q_udf_pandas_iter": "iterator-Pandas-UDF surface demo; "
    "differentially pinned to its built-in-function twin at 2 SFs "
    "(oracle parity) — batch boundaries, the only adversarial axis, "
    "are driven by maxRecordsPerBatch in the plan test",
    "udtf_mapinarrow": "mapInArrow surface demo, rows-only by design; "
    "same plumbing argument as q_udf_pandas_iter — Arrow batch shape, "
    "not data values, is the operative surface",
}


_NAME = re.compile(r"^(?:q|llm|src|snk|pipe|st|udtf)_[a-z0-9_]+$")


def _battery_covered() -> set[str]:
    """Names a battery actually EXERCISES: string elements of ``*OPS``
    list/tuple assignment literals (the parametrize sources) plus
    constant-string subscripts (``SPECS["name"]`` direct drives).
    AST-based (r8 ADVICE): a name appearing only in a comment,
    docstring, or skip-comprehension no longer counts as coverage."""
    covered: set[str] = set()
    here = Path(__file__).parent
    files = list(here.glob("test_*adversarial*.py")) + list(
        here.glob("test_*random*.py")
    )
    assert files, "battery files missing"
    for f in files:
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id.endswith("OPS")
                for t in node.targets
            ):
                if isinstance(node.value, (ast.List, ast.Tuple)):
                    covered |= {
                        el.value
                        for el in node.value.elts
                        if isinstance(el, ast.Constant)
                        and isinstance(el.value, str)
                        and _NAME.match(el.value)
                    }
            elif isinstance(node, ast.Subscript):
                s = node.slice
                if (
                    isinstance(s, ast.Constant)
                    and isinstance(s.value, str)
                    and _NAME.match(s.value)
                ):
                    covered.add(s.value)
    return covered


def test_every_never_checked_row_is_stressed_or_justified():
    specs = load_all()
    never = set(specs) - set(driver_lineage())
    covered = _battery_covered()
    residue = never - covered
    unjustified = sorted(residue - set(JUSTIFIED))
    assert not unjustified, (
        "never-driver-checked rows with no adversarial battery and no "
        f"written justification: {unjustified}"
    )


def test_justifications_are_live():
    """A justification must reference a real registry row that no
    battery covers — delete entries that a battery has since reached
    (or that no longer exist)."""
    specs = load_all()
    covered = _battery_covered()
    stale = sorted(n for n in JUSTIFIED if n not in specs)
    assert not stale, f"justified names not in registry: {stale}"
    shadowed = sorted(n for n in JUSTIFIED if n in covered)
    assert not shadowed, (
        f"justified rows now battery-covered — delete them: {shadowed}"
    )
