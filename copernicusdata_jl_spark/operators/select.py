"""Projection / masking operators — the reference's variable-selection and
conditional-masking surface re-expressed as Catalyst projections.

- ``select_vars`` / ``exclude_vars``: reference src/YAXTrees.jl:1082-1126 /
  :1146-1175 (keep/drop listed variables; warn-or-raise on missing).
- ``where_mask``: reference src/YAXTrees.jl:794-804 (element-wise ternary
  with missing→false coalescing); it fuses into whole-stage codegen. The
  chunked ``pwhere`` (:826-854) is ``where_mask`` after a ``repartition``:
  Spark partitions replace ``setchunks``, and the rows are the same.
- The SEN3 mapping src→dest rename (reference src/YAXTrees.jl:584-587) is
  ``sources/mapping.apply_mapping``.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def select_vars(df: DataFrame, varnames: list[str]) -> DataFrame:
    """Keep listed columns. Missing names warn (reference logs
    "Variable(s) not found", src/YAXTrees.jl:1041-1044)."""
    missing = [v for v in varnames if v not in df.columns]
    if missing:
        log.warning("select_vars: variable(s) not found: %s", missing)
    keep = [v for v in varnames if v in df.columns]
    return df.select(*keep)


def exclude_vars(df: DataFrame, varnames: list[str]) -> DataFrame:
    """Drop listed columns (reference src/YAXTrees.jl:1146-1175)."""
    return df.drop(*[v for v in varnames if v in df.columns])


def where_mask(df: DataFrame, cond: Column, v1: Column, v2: Column, out_col: str) -> DataFrame:
    """``where(cond, v1, v2)`` with the reference's missing-aware rule:
    NULL condition counts as false (coalesce(cond, false),
    reference src/YAXTrees.jl:802-804)."""
    return df.withColumn(out_col, F.when(F.coalesce(cond, F.lit(False)), v1).otherwise(v2))

