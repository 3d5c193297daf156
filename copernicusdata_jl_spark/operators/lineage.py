"""☆ Lineage + idempotent resume (SURVEY.md §2.10 O8, §2.3 J6).

Mirrors the reference payload's ``breakpoints`` block (reference
test/resources/payload.toml:5-9, parsed at src/EOTriggering.jl:11-16):
every run emits per-work-unit lineage rows ``(bucket, cell_min, cell_max,
row_count, checksum)`` to a checkpoint table; a re-run subtracts the
completed buckets from its work and recomputes only what's missing.

The checksum is an order-insensitive BIT_XOR of row hashes — stable under
any partitioning/shuffle order, so resume verification works no matter how
AQE re-plans the job. Checkpoint storage: :func:`run_with_resume` always
commits through :class:`..operators.snapshot.SnapshotTable` —
manifest-listed parquet with atomic create-if-absent publishes, so a
crashed run can never expose a torn checkpoint to the next resume
(Iceberg's guarantee, implemented locally; the jar-backed catalog drops
into the same seam). :func:`write_checkpoint` also writes the plain
append-only parquet directory (``atomic=False``). Reads auto-detect the
layout.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import dedup as _d
from .snapshot import SnapshotTable

def lineage_rows(
    df: DataFrame,
    bucket_col: str = "bucket",
    cell_col: str = "cell_id",
    hash_cols: list[str] | None = None,
    portable: bool = False,
) -> DataFrame:
    """Aggregate per-bucket lineage: cell range + row count + order-
    insensitive checksum. Partial-aggregates map-side; the shuffle carries
    one row per bucket."""
    hash_cols = hash_cols or [c for c in df.columns if c != bucket_col]
    if portable:
        h = _d.h56_expr(F.concat_ws("|", *[F.col(c).cast("string") for c in hash_cols]), "lin")
    else:
        h = F.xxhash64(*hash_cols)
    return (
        df.withColumn("_h", h)
        .groupBy(F.col(bucket_col).alias("bucket"))
        .agg(
            F.min(cell_col).alias("cell_min"),
            F.max(cell_col).alias("cell_max"),
            F.count(F.lit(1)).alias("row_count"),
            F.expr("bit_xor(_h)").alias("checksum"),
        )
    )


def write_checkpoint(lineage: DataFrame, path: str, run_id: str, atomic: bool = False) -> None:
    """Append this run's lineage snapshot (run_id column added).
    ``atomic=True`` publishes through the SnapshotTable manifest protocol
    (readers see all of this run's rows or none of them)."""
    df = lineage.withColumn("run_id", F.lit(run_id))
    if atomic:
        if (
            os.path.isdir(path)
            and not os.path.isdir(os.path.join(path, "_manifests"))
            and any(f.endswith(".parquet") for f in os.listdir(path))
        ):
            # refusing beats silently shadowing: once _manifests exists the
            # auto-detecting reader serves ONLY manifest-listed files, so
            # committing a snapshot on top of plain appended parquet would
            # make every pre-existing lineage row invisible to resume
            raise ValueError(
                f"{path!r} holds a plain append-only checkpoint; pass "
                "atomic=False or migrate to a fresh path for snapshot commits"
            )
        SnapshotTable(path).commit(df, run_id)
    else:
        df.write.mode("append").parquet(path)


def read_checkpoint(spark: SparkSession, path: str) -> DataFrame | None:
    """Layout auto-detect: a ``_manifests/`` dir means snapshot-committed
    (read the latest manifest's files only — orphans from crashed runs are
    invisible); otherwise the plain parquet directory."""
    if os.path.isdir(os.path.join(path, "_manifests")):
        return SnapshotTable(path).read(spark)
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


def run_with_resume(
    df: DataFrame,
    bucket_col: str,
    checkpoint_path: str,
    run_id: str,
    cell_col: str = "cell_id",
) -> tuple[DataFrame, int]:
    """Compute lineage for buckets not yet checkpointed, commit them as one
    snapshot, and return (lineage_df_written, n_buckets_skipped).
    Idempotent: a second call with the same checkpoint writes nothing. A
    run killed mid-commit leaves the checkpoint exactly as before — the
    retry recomputes that run's buckets instead of trusting torn state.

    Contract: bucket ids are work units, one lineage row each, so the done
    and pending bucket sets are the size of the checkpoint table and are
    decided on the driver. The done set is one Arrow read of the
    checkpoint's ``bucket`` column: the checkpoint holds one row per bucket
    per committing run, so a distinct there would only add a shuffle, and a
    bucket two runs committed is still skipped once. ``df`` is read once:
    one ``toArrow()`` of the lineage rows of its non-NULL buckets gives the
    bucket set, the skip count and the rows to commit, at the price of
    aggregating the done buckets too. A NULL bucket is never written and
    never counted as skipped."""
    spark = df.sparkSession
    ckpt = read_checkpoint(spark, checkpoint_path)
    done = set() if ckpt is None else set(ckpt.select("bucket").toArrow().column(0).to_pylist())
    rows = lineage_rows(df.filter(F.col(bucket_col).isNotNull()), bucket_col, cell_col).toArrow()
    todo = rows.filter(pa.array([b not in done for b in rows.column("bucket").to_pylist()], pa.bool_()))
    # one file per commit: a local table splits into a partition per core
    lin = spark.createDataFrame(todo).coalesce(1)
    if todo.num_rows:
        write_checkpoint(lin, checkpoint_path, run_id, atomic=True)
    return lin, rows.num_rows - todo.num_rows
