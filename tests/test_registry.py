"""The query registry is the one list of query names: its first 50 names
are pinned to the committed correctness artifact, and every record's plan
passes the plan audit with exactly the allowances it declares."""

from __future__ import annotations

import json
from pathlib import Path

from copernicusdata_jl_spark.queries import REGISTRY

from conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]


def test_snapshot_order_matches_correctness_artifact():
    with open(REPO / "CORRECTNESS_r05.json") as f:
        snapshot = list(json.load(f))
    assert list(REGISTRY)[:50] == snapshot


def test_plan_audit_has_no_violations(spark):
    from tools.plan_audit import audit

    inventory, violations = audit(spark, SF_DIR)
    assert len(inventory) == len(REGISTRY)
    assert violations == []
