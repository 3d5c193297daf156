"""Compare two sets of benchmark runs: parent commit vs change.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

Each file holds run records as ``perfbench/run.py`` appends them to
``.perfbench/runs.jsonl`` (one JSON object per line); untraced runs are
grouped by workload and paired in file order. Per end-to-end metric and
workload the verdict is:

- ``improved``: the change wins at least 9 of 10 pairs (ties count for
  neither side) and the medians differ by more than the parent's
  interquartile range;
- ``regressed``: the change's median is worse than the parent's by more
  than the metric's bound from BENCHMARK.json;
- ``unresolved``: the run-to-run spread (interquartile range over median)
  of either side exceeds the bound, so a change within it cannot be told
  from noise, unless every change run beats every parent run;
- ``within bound`` otherwise.

A workload also counts as regressed when any change run is not correct or
the change's runs fail more passes in total than the parent's.

Exit status 1 when any metric or workload regressed, else 0.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load_runs(path: str) -> dict[str, list[dict]]:
    """workload -> the ``result`` objects of its untraced runs, in file order."""
    by_wl: dict[str, list[dict]] = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            rec = json.loads(line)
            if rec.get("trace", 0) == 0 and "result" in rec:
                by_wl.setdefault(rec["workload"], []).append(rec["result"])
    return by_wl


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> dict:
    sign = 1.0 if better == "lower" else -1.0  # sign * (c - p) > 0 means worse
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) < 0)
    worse = sign * (cm - pm) / pm if pm else 0.0
    spread_p = (p3 - p1) / pm if pm else 0.0
    spread_c = (c3 - c1) / cm if cm else 0.0
    all_better = all(sign * (c - p) < 0 for c in change for p in parent)
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > (p3 - p1) and worse < 0:
        v = "improved"
    elif max(spread_p, spread_c) > bound and not all_better:
        v = "unresolved"
    elif worse > bound:
        v = "regressed"
    else:
        v = "within bound"
    return {"verdict": v, "parent_median": pm, "change_median": cm, "worse_by": worse,
            "spread_parent": spread_p, "spread_change": spread_c, "wins": wins, "pairs": len(pairs)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    args = ap.parse_args()
    with open(BENCHMARK) as f:
        bench = json.load(f)
    parent, change = load_runs(args.parent), load_runs(args.change)
    print(f"{'workload':16} {'metric':15} {'parent':>11} {'change':>11} {'worse_by':>9} "
          f"{'spread p/c':>13} {'bound':>6} {'wins':>6}  verdict")
    regressed = False
    for wl in sorted(set(parent) & set(change)):
        for m in bench["end_to_end"]:
            pv = [r["metrics"][m["name"]]["value"] for r in parent[wl] if m["name"] in r["metrics"]]
            cv = [r["metrics"][m["name"]]["value"] for r in change[wl] if m["name"] in r["metrics"]]
            if not (pv and cv):
                continue
            r = verdict(pv, cv, m["better"], m["bound"])
            regressed |= r["verdict"] == "regressed"
            print(f"{wl:16} {m['name']:15} {r['parent_median']:11.4g} {r['change_median']:11.4g} "
                  f"{r['worse_by']:+9.3f} {r['spread_parent']:6.3f}/{r['spread_change']:<6.3f} {m['bound']:6.2f} "
                  f"{r['wins']:>2}/{r['pairs']:<3}  {r['verdict']}")
        p_failed = sum(r["failed"] for r in parent[wl])
        c_failed = sum(r["failed"] for r in change[wl])
        c_incorrect = sum(not r["correct"] for r in change[wl])
        if c_incorrect or c_failed > p_failed:
            regressed = True
            print(f"{wl:16} {'correctness':15} failed passes {p_failed} -> {c_failed}, "
                  f"incorrect change runs {c_incorrect}  regressed")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
