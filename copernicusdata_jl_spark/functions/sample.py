"""Deterministic hash-based sampling — training-mix construction.

Building an LLM training mix means sampling each stratum (language,
source, quality band) at its own rate, REPRODUCIBLY: re-running the job,
adding executors, or resuming from checkpoint must select the exact same
documents.  RNG-based ``df.sample`` gives none of that (seed semantics
are partition-dependent), so the standard web-scale idiom is a keyed
hash threshold: keep a row iff ``h(key) mod D < rate·D``.  Pure map-side
projection — no shuffle, no state — and the hash is salted so
independent samples of the same corpus are uncorrelated.

The sampler reuses the engine's 56-bit md5-prefix hash
(operators/dedup.h56_expr) so DuckDB re-derives the exact selection —
the sampler is value-checked by the driver gate, not just row-counted.

Reference parity: the reference has no sampler; this extends its
deterministic-selection semantics (granule selection by name/time,
reference src/EOTriggering.jl:146) the way the north rule's lineage
checksums extend its golden-output comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.dedup import h56_expr, h56_sql

# the sampler denominator D of ``h mod D < rate·D``; every Spark and SQL twin builds on it
DENOM = 1_000_000


def sample_mod_expr(key: Column, salt: str = "smp") -> Column:
    """``pmod(h56(salt||key), 1e6)`` — the hash half of every sampler
    predicate, compared against a per-stratum threshold by callers
    (twin :func:`sample_mod_sql`)."""
    return F.pmod(h56_expr(key, salt), F.lit(DENOM))


def sample_mod_sql(key_expr: str, salt: str = "smp") -> str:
    """SQL twin of :func:`sample_mod_expr`."""
    h = h56_sql(key_expr, salt)
    return f"((({h}) % {DENOM} + {DENOM}) % {DENOM})"


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "smp",
) -> DataFrame:
    """Keep each stratum at its own rate (training-mix construction):
    ``rates`` maps stratum value → keep fraction; strata not listed keep
    ``default_rate``.  One whole-stage-codegen filter — at 10^12 rows the
    sampler costs a scan, nothing more, and the selection is stable under
    any partitioning / resume / cluster size."""
    h = sample_mod_expr(F.col(key_col), salt)
    thresh = F.lit(int(default_rate * DENOM))
    for value, rate in sorted(rates.items()):
        thresh = F.when(F.col(strata_col) == value, F.lit(int(rate * DENOM))).otherwise(thresh)
    return df.filter(h < thresh)


def dataset_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: every row gets exactly one
    split label by hash-threshold bands over ``pmod(h56(salt||key), 1e6)``.
    The properties a training pipeline needs are the sampler's, inherited:
    re-runs, resumes, and repartitions assign identically; a row's split
    never depends on what else is in the corpus (adding data never moves
    existing rows between splits — the leakage rule).

    ``fractions`` maps label → fraction in declaration order; they must sum
    to 1 (the last band absorbs the rounding remainder so every hash value
    lands in exactly one band). Pure map-side projection — no shuffle.
    """
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    if len(fractions) < 2:
        raise ValueError("need at least two splits")
    m = sample_mod_expr(F.col(key_col).cast("string"), salt)
    labels = list(fractions)
    expr = None
    cum = 0.0
    for lbl in labels[:-1]:
        cum += fractions[lbl]
        cond = m < int(cum * DENOM)
        expr = F.when(cond, F.lit(lbl)) if expr is None else expr.when(cond, F.lit(lbl))
    expr = expr.otherwise(F.lit(labels[-1]))
    return df.withColumn(out_col, expr)


def dataset_split_sql(
    key_expr: str, fractions: dict[str, float], salt: str = "split", out_col: str = "split"
) -> str:
    """DuckDB twin of ``dataset_split``'s label expression (identical
    thresholds over the portable h56 hash)."""
    m = sample_mod_sql(key_expr, salt)
    labels = list(fractions)
    parts = ["CASE"]
    cum = 0.0
    for lbl in labels[:-1]:
        cum += fractions[lbl]
        parts.append(f"WHEN {m} < {int(cum * DENOM)} THEN '{lbl}'")
    parts.append(f"ELSE '{labels[-1]}' END AS {out_col}")
    return " ".join(parts)


def priority_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str,
    group_cols: list[str] | None = None,
    salt: str = "pri",
) -> DataFrame:
    """☆ Priority sampling (Duffield, Lund & Thorup, JACM 2007): a
    weighted-without-replacement sample of ``k`` rows (per group) with an
    unbiased subset-sum estimator — the principled way to downsample a
    corpus by quality/importance weight while keeping totals estimable.

    Each row draws the deterministic uniform ``u = (h56(salt||key) mod
    1e6 + 0.5)/1e6`` and priority ``q = w/u``; the k highest priorities
    win, and ``tau`` (the (k+1)-th priority, 0 when the group has ≤ k
    rows) yields the Horvitz-Thompson weight estimate ``est_w =
    max(w, tau)`` — E[Σ est_w over sample] = Σ w over the group, the
    paper's headline property. Deterministic: re-runs, resumes, and
    repartitions pick identical rows (same hash-u), and every arithmetic
    step (division, comparison) is IEEE-exact, so the DuckDB oracle
    reproduces the sample bit-for-bit — no transcendentals, unlike the
    exponential-keys A-ES variant.

    Scale: two-phase top-(k+1) per group (operators/knn.topk_per_group)
    bounds the global sort at (k+1)·partitions rows per group; the tau
    broadcast is a per-group scalar carried by a window over the already
    tiny survivor set.
    """
    from ..operators.knn import topk_per_group

    if k < 1:
        raise ValueError("k must be >= 1")
    groups = list(group_cols or [])
    u = (sample_mod_expr(F.col(key_col).cast("string"), salt) + F.lit(0.5)) / F.lit(float(DENOM))
    scored = df.withColumn("_q", F.col(weight_col).cast("double") / u)
    top = topk_per_group(
        scored, groups or [F.lit(1)],
        [F.col("_q").desc(), F.col(key_col).asc()], k + 1, rank_col="_rk",
    )
    wtau = Window.partitionBy(*groups) if groups else Window.partitionBy(F.lit(1))
    tau = F.max(F.when(F.col("_rk") == k + 1, F.col("_q")).otherwise(F.lit(0.0))).over(wtau)
    return (
        top.withColumn("_tau", tau)
        .filter(F.col("_rk") <= k)
        .withColumn("est_w", F.greatest(F.col(weight_col).cast("double"), F.col("_tau")))
        .drop("_q", "_rk", "_tau")
    )
