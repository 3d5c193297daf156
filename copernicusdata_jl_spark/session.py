"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]``; the same configs are what we'd submit to a
1000-executor cluster via ``spark-submit --py-files`` (the reference's
``parallel_context`` knob, reference test/resources/payload.toml:56-59, is
replaced by Spark's own parallelism config).

Scale rationale (100 TB design point):
- AQE on: runtime coalescing + skew-join splitting for the cell join.
- shuffle partitions sized to cores locally; on a real cluster this is
  ``max(2*total_cores, input_bytes / 128MB)`` — AQE coalesces down.
- Arrow enabled: the Python row-level kernels (PIP, interp) are
  Arrow-batched pandas UDFs, never per-row Python; HTML extraction is the
  JVM expression ``extract_text_expr``.
- UTC session timezone: deterministic golden outputs and DuckDB parity.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession


def build_py_files_zip(dest_path: str) -> str:
    """Package this engine into a ``spark-submit --py-files`` zip (north
    rule: "ships via spark-submit --py-files"). The zip holds the package
    rooted at ``copernicusdata_jl_spark/`` so both the driver and every
    executor python worker import it from the shipped artifact — no repo
    checkout needed on any cluster node. The same zip feeds
    ``SparkContext.addPyFile`` when a session is handed to us already
    constructed (``__spark_entry__._ensure_shipped``)."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg)
    with zipfile.ZipFile(dest_path, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    return dest_path


def _tune_malloc_env() -> None:
    """glibc malloc tuning inherited by the JVM and every forked python
    worker (must run before the JVM starts). Pandas/Arrow kernels allocate
    and free many multi-MB buffers per batch; with default glibc each one
    is a fresh mmap + page-fault-in + munmap cycle, which on this kernel
    dominates the workers' CPU as SYSTEM time (measured 3x user time).
    Keeping freed memory (high trim threshold) and capping the mmap
    threshold makes the arenas reusable: pages fault in once per worker,
    not once per allocation."""
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 25))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))


def get_spark(
    app_name: str = "copernicusdata_jl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _tune_malloc_env()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # compressed web text packs ~15:1 in parquet; default 128MB split
        # bin-packing would hand a whole small table to 1-2 tasks. Floor the
        # split count at 2 waves so the scan parallelizes at any table size
        .config("spark.sql.files.minPartitionNum", str(2 * int(shuffle_partitions)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 8k rows/batch keeps each worker's pandas intermediates (~25 MB for
        # 3 KB docs) under the glibc mmap threshold so buffers come from
        # reused arena memory — see _tune_malloc_env; large batches measured
        # 2x slower end-to-end from page-fault churn alone
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # deterministic goldens: never silently truncate/round differently
        .config("spark.sql.parquet.compression.codec", "zstd")
        # small local driver; on a cluster this comes from spark-submit.
        # ParallelGC + right-sized heap: G1's concurrent heap commit/uncommit
        # churn showed up as 10x sys-time on executor task threads here
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
    )
    # NOTE: a pre-loading worker daemon (import pandas/pyarrow before the
    # daemon forks) was tried and REVERTED: pyarrow's background threads do
    # not survive fork(), and the orphaned locks sent forked workers into a
    # sys-time spin (measured: warm pandas-UDF stages 6× slower). Worker
    # warm-up is handled by an un-timed warmup pass in the benchmarks
    # instead (bench.py, perfbench/run.py).
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
