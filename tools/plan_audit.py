"""Plan inventory: the physical plan of EVERY registry query, audited for
scale-killers, emitted as one JSON artifact (BENCH/plan_inventory.json).

tests/test_plans.py gates the shapes we designed deliberately; this tool
is the complementary blanket check — no query in the whole registry may
contain a row-at-a-time Python eval node or an accidental
BroadcastNestedLoopJoin (the two silent 100×-slowdown classes), and the
per-query Exchange/Join/Window counts are recorded so a future change
that adds a shuffle to a formerly map-side operator shows up as an
artifact diff, not a production surprise.

Allowances live on the registry records (``Query.allow``): a query whose
nested-loop join is BY DESIGN (a one-row broadcast scalar such as BM25's
corpus stats) or whose Arrow-batched pandas kernel is the operator
(winnowing, the multimodal decode, the PIP refine) names that counter.
There are NO allowed row-at-a-time Python-eval nodes. An allowance the
query's plan does not use is itself a violation, so none can go stale
and let a new nested loop or Python node through unseen.

Usage: python tools/plan_audit.py [sf_dir] — exits nonzero on violation.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# plan counters a query must not show unless its record allows them
ALLOWABLE = ("nested_loop_joins", "arrow_eval")


def audit(spark, sf_dir: str) -> tuple[dict[str, dict], list[str]]:
    """Plan counters of every registry query and the audit's violations."""
    from copernicusdata_jl_spark.queries import REGISTRY

    inventory: dict[str, dict] = {}
    violations: list[str] = []
    for name, q in sorted(REGISTRY.items()):
        df = q.plan(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        row = {
            "exchanges": len(re.findall(r"Exchange (hash|range)partitioning", plan)),
            "broadcast_joins": plan.count("BroadcastHashJoin"),
            "sortmerge_joins": plan.count("SortMergeJoin"),
            "nested_loop_joins": plan.count("BroadcastNestedLoopJoin"),
            "windows": plan.count("Window"),
            "python_eval": plan.count("BatchEvalPython"),
            "arrow_eval": plan.count("ArrowEvalPython") + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas"),
        }
        if row["python_eval"]:
            violations.append(f"{name}: row-at-a-time BatchEvalPython in plan")
        for k in ALLOWABLE:
            if row[k] and k not in q.allow:
                violations.append(f"{name}: {k} not allowed")
            if k in q.allow and not row[k]:
                violations.append(f"{name}: {k} allowed but unused")
        inventory[name] = row
    return inventory, violations


def main(sf_dir: str = "/root/testdata/sf0.001") -> int:
    from copernicusdata_jl_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    inventory, violations = audit(spark, sf_dir)

    out = {
        "sf_dir": sf_dir,
        "n_queries": len(inventory),
        "violations": violations,
        "queries": inventory,
    }
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCH", "plan_inventory.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"{len(inventory)} plans audited -> {path}")
    for v in violations:
        print("VIOLATION:", v)
    spark.stop()
    return 1 if violations else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
