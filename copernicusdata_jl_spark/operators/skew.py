"""☆ Skew handling: salted two-phase aggregation + hot-key detection
(SURVEY.md §4 "salted repartitioning of mega-cells").

The north rule calls out dense crawl hosts and coastal mega-cells. AQE
skew-join splitting covers joins; for aggregations over skewed keys this
module provides deterministic salting: append ``salt = pmod(xxhash64(fine
grain cols), n)`` to the group key, partially aggregate (key, salt) — the
shuffle now spreads a hot key over ``n`` reducers — then combine partials
by key. Results are bit-identical to the unsalted groupBy for decomposable
aggregates (count/sum/min/max), which is exactly what the DuckDB oracle
asserts (queries/spatial.q_salted_agg).

Hot-key detection: one cheap pre-pass with an approximate frequency sketch
(``F.count_distinct`` is overkill — a sampled count per key suffices) so
only genuinely hot keys pay the extra combine stage; cold keys take the
ordinary path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# decomposable aggregate specs: name -> (partial_fn, combine_fn)
_DECOMPOSABLE = {
    "count": (lambda c: F.count(F.lit(1)), F.sum),
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_groupby(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str | Column]],
    salt_mod: int = 16,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """groupBy(keys) with a deterministic pre-shuffle salt.

    ``aggs``: out_name -> (agg_kind, col) with agg_kind in count/sum/min/max
    (decomposable, so salted == unsalted bit-for-bit). ``salt_cols``: fine-
    grain columns hashed into the salt (default: all non-key columns) —
    deterministic, so resume checksums stay stable across runs.
    """
    salt_cols = salt_cols or [c for c in df.columns if c not in keys]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(salt_mod))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(
            *[
                _DECOMPOSABLE[kind][0](col if isinstance(col, Column) else F.col(col)).alias(f"_p_{name}")
                for name, (kind, col) in aggs.items()
            ]
        )
    )
    return partial.groupBy(*keys).agg(
        *[
            _DECOMPOSABLE[kind][1](F.col(f"_p_{name}")).alias(name)
            for name, (kind, _col) in aggs.items()
        ]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str] | str,
    salt_mod: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-balanced shuffle join: the big side appends a per-ROW salt,
    the small side is replicated ``n`` ways (explode of a literal range),
    and the join runs on ``(key..., salt)`` — a key holding 10^9 rows now
    spreads over ``n`` reducers instead of one straggler task.
    Row-identical to the plain join for the inner/left family (every big
    row meets exactly one replica of each matching small row; tested
    bit-for-bit). The salt comes from the row's POSITION
    (``monotonically_increasing_id``), not a content hash: hot-key rows
    are often content-identical (especially post-projection) and a
    content hash would put them all back in one bucket. The join result
    is salt-independent, so the salt needs no cross-run determinism.

    This is the MANUAL fallback for when AQE's skew-join splitting can't
    fire (e.g. the skewed side comes out of an aggregation AQE won't
    re-split, or a non-sort-merge plan); replication multiplies the small
    side ``n``× — keep it genuinely small or broadcast instead.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if how.replace("_", "").lower() not in ("inner", "left", "leftouter", "leftsemi", "leftanti"):
        # right/full would emit each UNMATCHED small-side row once per
        # replica (salt_mod duplicates) — refuse rather than be wrong
        raise ValueError(f"salted_join supports inner/left-family joins, not {how!r}")
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(salt_mod))
    b = big.withColumn("_salt", salt)
    s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_mod)]))
    )
    return b.join(s, keys + ["_salt"], how).drop("_salt")
