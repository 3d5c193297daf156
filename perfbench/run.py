"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload points_spatial --seed 3 --seconds 12 --trace 0

A run pins itself to 4 cores, prepares the seeded inputs and their
reference outputs (cached per seed and size, outside every measured
interval), sets up a ``local[4]`` session (session start and input
registration, repeated and the median taken, then one untimed warm-up
pass; ``setup_s`` is their sum), then runs timed passes in a closed loop
for ``--seconds`` and at least ``MIN_PASSES`` passes: each pass starts
when the previous one has finished and been checked against the
reference.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, alternates untraced passes with traced ones (each engine
layer called and materialised inside a span) and prints the per-layer
metrics. The last stdout line is the result JSON; the line before it holds
the host state and the run's phases. Every run is also appended to
``.perfbench/runs.jsonl``. On every way out, the run stops the JVM and
waits until each process it started has ended.
"""

from __future__ import annotations

import argparse
import dataclasses
import glob
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

T_PROC0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CORES = 4
SETUP_REPS = 3
MIN_PASSES = 2


def _session(work: str, trace: bool):
    from copernicusdata_jl_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _merged(log, groups: list[str]):
    """Sum of the numeric stats of ``groups``."""
    from perfbench.trace import GroupStats

    out = GroupStats()
    for g in groups:
        for f in dataclasses.fields(GroupStats):
            if f.name != "executions" and g in log.groups:
                setattr(out, f.name, getattr(out, f.name) + getattr(log.groups[g], f.name))
    return out


def _stop_engine() -> None:
    """Stop the Spark context and its JVM, then wait until every process
    this run started (the JVM and its Python workers) has ended. Without
    this the JVM would outlive the run: it exits only once it sees the end
    of its stdin."""
    from perfbench import proc

    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            try:
                SparkContext._active_spark_context.stop()
            except Exception:
                pass
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
            jvm = getattr(gw, "proc", None)
            if jvm is not None and jvm.stdin is not None:
                try:
                    jvm.stdin.close()
                except OSError:
                    pass
    proc.end()


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)
    sys.path.insert(0, ROOT)
    from perfbench import proc

    proc.become_subreaper()
    try:
        return _run(args)
    finally:
        _stop_engine()


def _run(args) -> int:
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher included: no files outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    # the engine, the host probe and the benchmark modules; a checkout
    # without the engine fails here, before any result is printed
    import pyspark

    from perfbench import proc

    cores = proc.pin_cores(CORES)
    from perfbench.trace import Tracer, live_row_counts, read_event_log
    from perfbench.workloads import WORKLOADS
    from tools.host_probe import quick_probe

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wl = WORKLOADS[args.workload](os.path.join(STATE, "cache"), work, args.seed)
    host = {"probe_before": quick_probe(0.2), "cores": cores, "nproc": os.cpu_count(),
            "python": platform.python_version(), "spark": pyspark.__version__}

    phases = {"imported": time.perf_counter() - T_PROC0}
    wl.prepare()
    phases["prepared"] = time.perf_counter() - T_PROC0
    spark = _session(work, False)
    if not wl.spark_ready():
        wl.prepare_spark(spark)
        wl.mark_spark_ready()
    spark.range(1).collect()  # launch the JVM outside the set-up interval
    phases["jvm"] = time.perf_counter() - T_PROC0

    problems: list[str] = []
    pass_no = 0
    check_s: list[float] = []

    def checked(out) -> bool:
        t0 = time.perf_counter()
        bad = wl.check(spark, out)
        check_s.append(time.perf_counter() - t0)
        problems.extend(bad)
        return not bad

    # set-up: stop the session, start a new one and register the inputs,
    # several times (median); then run and check one untimed warm-up pass
    start_s, reg_s = [], []
    for _ in range(SETUP_REPS):
        spark.stop()
        t0 = time.perf_counter()
        spark = _session(work, bool(args.trace))
        t1 = time.perf_counter()
        wl.register(spark)
        start_s.append(t1 - t0)
        reg_s.append(time.perf_counter() - t1)
    sc = spark.sparkContext
    tracer = Tracer(sc)
    wl.tracer = tracer
    arg = wl.pre_pass(pass_no)
    with tracer.span("warmup") as sp:
        out = wl.run_pass(spark, pass_no, arg)
    warmup_s = sp.dur
    setup_s = statistics.median(s + r for s, r in zip(start_s, reg_s)) + warmup_s
    pass_no += 1
    checked(out)
    warm_ok = not problems

    sampler = proc.RssSampler()
    walls, traced_walls, cpu, n_rows = [], [], 0.0, 0
    attempted = failed = 0
    phases["ready"] = time.perf_counter() - T_PROC0
    t_end = time.perf_counter() + args.seconds
    # at least MIN_PASSES passes (one of each kind when traced), however
    # long a pass takes; after that, a pass starts only if the last one's
    # length says it ends less than half a pass after the window
    last = 0.0
    while attempted < MIN_PASSES or time.perf_counter() + 0.5 * last < t_end:
        traced = bool(args.trace) and attempted % 2 == 1
        arg = wl.pre_pass(pass_no)
        tracer.pass_id = pass_no
        attempted += 1
        try:
            if traced:
                with tracer.span("tpass") as sp:
                    out = wl.traced_pass(spark, tracer, pass_no, arg)
                traced_walls.append(sp.dur)
            else:
                c0 = proc.tree_cpu_s()
                sampler.enable(True)
                with tracer.span("pass") as sp:
                    out = wl.run_pass(spark, pass_no, arg)
                sampler.enable(False)
                cpu += proc.tree_cpu_s() - c0
                walls.append(sp.dur)
                n_rows += wl.rows()
            ok = checked(out)
        except Exception as e:  # a pass that raises counts as failed
            problems.append(f"pass {pass_no}: {type(e).__name__}: {e}"[:300])
            ok = False
        failed += 0 if ok else 1
        pass_no += 1
        last = sp.dur
    sampler.close()
    phases["timed"] = time.perf_counter() - T_PROC0
    if args.trace:
        logs = os.path.join(work, "eventlog", f"{sc.applicationId}*")
        rows = live_row_counts(spark, read_event_log(glob.glob(logs)[0]))
    spark.stop()
    host["probe_after"] = quick_probe(0.2)

    if args.trace:
        log = read_event_log(glob.glob(logs)[0])
        log.acc.update(rows)
        # an untraced pass's jobs sit in its own group and its child spans'
        passes = {s.group for s in tracer.spans if s.name == "pass"}
        untraced = [_merged(log, [g] + [c.group for c in tracer.spans if c.parent == g]) for g in passes]
        flagship = [log.groups[s.group] for s in tracer.spans
                    if s.name == "flagship" and s.parent in passes and s.group in log.groups]

        def med(attr: str, gs=untraced) -> float:
            return float(statistics.median(getattr(g, attr) for g in gs)) if gs else 0.0

        m = {x["name"]: 0.0 for x in bench["per_layer"]}
        m.update({
            "session.start_s": statistics.median(start_s),
            "session.jobs": med("jobs"), "session.stages": med("stages"), "session.tasks": med("tasks"),
            "session.scheduler_delay_s": med("sched_delay_s"), "session.task_run_s": med("run_s"),
            "session.task_cpu_s": med("cpu_s"), "session.gc_s": med("gc_s"),
            "session.shuffle_write_bytes": med("shuffle_write_bytes"),
            "session.shuffle_fetch_wait_s": med("shuffle_fetch_wait_s"),
            "session.spill_bytes": med("spill_bytes"),
            "session.task_failures": float(sum(g.task_failures for g in log.groups.values())),
        })
        if flagship:
            m["flagship.jobs_per_pass"] = med("jobs", flagship)
            m["flagship.persist_bytes"] = med("block_bytes", flagship)
        m.update(wl.layer_metrics(tracer, log))
        tp = [s for s in tracer.spans if s.name == "tpass"]
        m["trace.overhead_frac"] = statistics.median(traced_walls) / statistics.median(walls) - 1.0
        m["trace.unattributed_frac"] = statistics.median(tracer.self_time(s) / s.dur for s in tp)
        metrics = {x["name"]: {"value": float(m[x["name"]]), "unit": x["unit"]} for x in bench["per_layer"]}
    else:
        m = {
            "rows_per_s": n_rows / sum(walls),
            "pass_s.p50": statistics.median(walls),
            "setup_s": setup_s,
            "cpu_ms_per_row": cpu * 1e3 / n_rows,
            "peak_rss_mb": sampler.peak,
            "ok_frac": (attempted - failed) / attempted,
        }
        metrics = {x["name"]: {"value": m[x["name"]], "unit": x["unit"]} for x in bench["end_to_end"]}
    result = {"correct": warm_ok and failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    info = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
            "passes": len(walls), "traced_passes": len(traced_walls), "setup_reps": SETUP_REPS,
            "pass_walls_s": [round(w, 4) for w in walls], "warmup_s": round(warmup_s, 4), "check_s": [round(c, 3) for c in check_s],
            "start_s": [round(s, 4) for s in start_s], "register_s": [round(r, 4) for r in reg_s],
            "problems": problems[:20], "phases_s": {k: round(v, 3) for k, v in phases.items()}, "run_s": time.perf_counter() - T_PROC0, "host": host}
    with open(os.path.join(STATE, "runs.jsonl"), "a") as f:
        f.write(json.dumps({**info, "result": result}) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
