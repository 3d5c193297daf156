"""T7: dimension-wise linear interpolation (reference src/interpolation.jl).

The reference's ``linear_interpolation(da; dims, value)`` interpolates a
variable at a target coordinate along one named dimension, ``mapslices``
over all the others (src/interpolation.jl:10-24, reverse-ordered axes
handled at :15-21); docs interpolate ``atmospheric_temperature_profile`` at
p=832.2 hPa over ``pressure_level`` (docs/src/examples.md:71-73).

Spark re-expression, two flavors:

1. ``linear_interp_at`` — relational: per group, find the bracketing
   samples of ``x`` around ``at`` with two tiny filtered aggregations and
   lerp. Pure JVM expressions, shuffles only (group, x0/x1) pairs; the
   DuckDB oracle reproduces it exactly (queries/spatial.q_linear_interp).
   Reverse-ordered axes need no special case — bracketing is order-free.
2. ``interp_series_udf`` — the mapslices analog: ``applyInPandas`` per
   group running ``np.interp`` over a whole target grid (resampling many
   points at once; the raster↔vector resampling kernel).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def linear_interp_at(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    at: float,
    out_col: str = "y_interp",
) -> DataFrame:
    """Per-group linear interpolation of y(x) at ``x = at``.

    Exact-sample hit → that sample (min y on ties, deterministic); outside
    the observed range → NULL (the reference's missing propagation,
    src/YAXTrees.jl:802).
    """
    # one conditional-aggregate pass: bracketing sample per side as a
    # struct extremum (max struct(x, -y) = largest x, then smallest y on
    # ties — the reference's deterministic tie-break). Single shuffle with
    # map-side partials; the previous two-join formulation shuffled the
    # table four times for the same answer.
    x, y = F.col(x_col), F.col(y_col)
    s0 = F.max(F.when(x <= at, F.struct(x.alias("x"), (-y).alias("ny"))))
    s1 = F.min(F.when(x >= at, F.struct(x.alias("x"), y.alias("y"))))
    j = df.groupBy(*group_cols).agg(
        s0.getField("x").alias("_x0"),
        (-s0.getField("ny")).alias("_y0"),
        s1.getField("x").alias("_x1"),
        s1.getField("y").alias("_y1"),
    )
    frac = (F.lit(float(at)) - F.col("_x0")) / (F.col("_x1") - F.col("_x0"))
    interp = F.when(F.col("_x1") == F.col("_x0"), F.col("_y0")).otherwise(
        F.col("_y0") + (F.col("_y1") - F.col("_y0")) * frac
    )
    return j.select(
        *group_cols,
        F.round(interp, 6).alias(out_col),
    )


def interp_series(pdf: pd.DataFrame, x_col: str, y_col: str, grid: np.ndarray) -> pd.DataFrame:
    """np.interp kernel over one group (the mapslices body)."""
    s = pdf[[x_col, y_col]].dropna().sort_values(x_col)
    xs = s[x_col].to_numpy(dtype=np.float64)
    ys = s[y_col].to_numpy(dtype=np.float64)
    if len(xs) == 0:
        vals = np.full(len(grid), np.nan)
    else:
        vals = np.interp(grid, xs, ys)  # clamps outside range like DiskArrays edge-hold
    return pd.DataFrame({"x": grid, "y_interp": vals})


def resample_to_grid(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    grid: list[float],
) -> DataFrame:
    """applyInPandas resampling: every group's y(x) sampled onto a shared
    target grid (Arrow-batched; one Python call per group, vectorized
    inside — the T7 kernel generalized to raster↔vector tiling)."""
    garr = np.asarray(grid, dtype=np.float64)
    keys = [(c, df.schema[c].dataType.simpleString()) for c in group_cols]
    schema = ", ".join([f"{c} {t}" for c, t in keys] + ["x double", "y_interp double"])

    def fn(key, pdf):
        out = interp_series(pdf, x_col, y_col, garr)
        for c, k in zip(group_cols, key):
            out[c] = k
        return out[[*group_cols, "x", "y_interp"]]

    return df.groupBy(*group_cols).applyInPandas(fn, schema=schema)
