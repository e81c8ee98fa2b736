"""The registry order the external driver reads (it checks only the
first 50 entries of ``queries()`` per round) is derived from the
committed CORRECTNESS_r*.json verdict files, not kept by hand."""

import json

from weather_etl_spark.registry import (
    REGISTRY,
    QuerySpec,
    driver_lineage,
    driver_order,
    queries,
)


def test_driver_order_rules(tmp_path):
    green = {"hash_match": True, "spark_rows": 3, "err": None}
    rows_only = {"hash_match": None, "spark_rows": 3, "err": "no_oracle"}
    mismatch = {"hash_match": False, "spark_rows": 3, "err": None}
    failed = {"hash_match": None, "spark_rows": None, "err": "boom"}
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "fresh": green, "stale_a": green, "stale_b": green,
        "ro_stale": rows_only, "bad_hash": mismatch,
    }))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({
        "fresh": green, "failed": failed,
    }))

    latest = driver_lineage(tmp_path)
    assert latest == {"fresh": 10, "stale_a": 2, "stale_b": 2, "ro_stale": 2}

    oracled = {"fresh", "stale_b", "bad_hash", "stale_a", "new_a", "failed"}
    registered = ["fresh", "ro_stale", "stale_b", "new_ro", "bad_hash",
                  "stale_a", "new_a", "failed"]
    reg = {
        n: QuerySpec(
            n, lambda spark, sf_dir: None, "SELECT 1" if n in oracled else None
        )
        for n in registered
    }
    assert list(driver_order(reg, latest)) == [
        # never checked green: a hash mismatch or an error is not green
        "bad_hash", "new_a", "failed", "new_ro",
        # stalest round next, oracled before rows-only, then registration
        "stale_b", "stale_a", "ro_stale",
        "fresh",
    ]

    # the driver contract applies the rule to the committed verdict files
    assert list(queries()) == list(driver_order(REGISTRY, driver_lineage()))
