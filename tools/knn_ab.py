"""Pinned-idle A/B for `knn_kring` vs `knn_bruteforce` (VERDICT r3 item 7):
the driver benches showed knn_kring 2.69→4.61 s across rounds with zero
plan change, on a host whose burst-credit throttling swings identical
runs ~2×. This tool times the two queries BACK-TO-BACK in fresh pinned
subprocesses with alternating order (the scaling_bench pairing protocol),
so their RATIO is host-state-free and BENCH_r04 deltas are attributable:
if kring/bruteforce holds steady while absolute walls swing, the swing is
the host; if the ratio moves, it's the plan.

Usage: python tools/knn_ab.py [trials] [cooldown_s] [cpus]
Writes BENCH/runs/knn_ab_sf01.json.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SNIPPET = """
import json, os, sys, time
sys.path.insert(0, {repo!r})
os.sched_setaffinity(0, set(range({cpus})))
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[{cpus}]")
         .config("spark.sql.shuffle.partitions", "{parts}")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from copernicusdata_jl_spark.queries import REGISTRY
FNS = {{"kring": REGISTRY["knn_kring"].plan, "bruteforce": REGISTRY["knn_bruteforce"].plan}}
out = {{}}
for name in {order!r}:
    fn = FNS[name]
    fn(spark, {sf_dir!r}).collect()          # un-timed warmup (JIT, scan cache)
    walls = []
    for _ in range(3):
        t0 = time.monotonic()
        fn(spark, {sf_dir!r}).collect()
        walls.append(time.monotonic() - t0)
    out[name] = walls
print("RESULT " + json.dumps(out))
"""


def run_trial(order: list[str], cpus: int, sf_dir: str) -> dict[str, list[float]]:
    code = SNIPPET.format(repo=REPO, cpus=cpus, parts=4 * cpus, order=order, sf_dir=sf_dir)
    p = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=900
    )
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"trial failed: {p.stderr[-2000:]}")


def main(trials: int = 4, cooldown_s: float = 120.0, cpus: int = 32,
         sf_dir: str = "/root/testdata/sf0.1") -> dict:
    rows = []
    for t in range(trials):
        order = ["kring", "bruteforce"] if t % 2 == 0 else ["bruteforce", "kring"]
        res = run_trial(order, cpus, sf_dir)
        kr, bf = min(res["kring"]), min(res["bruteforce"])
        rows.append({"order": order, "kring_best": round(kr, 3),
                     "bruteforce_best": round(bf, 3), "ratio": round(kr / bf, 3),
                     "kring_walls": [round(x, 3) for x in res["kring"]],
                     "bruteforce_walls": [round(x, 3) for x in res["bruteforce"]]})
        print(json.dumps(rows[-1]))
        if t + 1 < trials:
            time.sleep(cooldown_s)
    report = {
        "protocol": "fresh pinned subprocess per trial; warmup + 3 timed passes per "
                    "query; queries back-to-back, order alternating; best-of-3 pairs",
        "cpus": cpus, "sf_dir": sf_dir, "trials": rows,
        "kring_median_best": round(statistics.median(r["kring_best"] for r in rows), 3),
        "bruteforce_median_best": round(
            statistics.median(r["bruteforce_best"] for r in rows), 3),
        "ratio_median": round(statistics.median(r["ratio"] for r in rows), 3),
    }
    out = os.path.join(REPO, "BENCH", "runs", "knn_ab_sf01.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({k: report[k] for k in
                      ("kring_median_best", "bruteforce_median_best", "ratio_median")}))
    return report


if __name__ == "__main__":
    trials = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    cooldown = float(sys.argv[2]) if len(sys.argv) > 2 else 120.0
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    main(trials, cooldown, cpus)
