"""T7: dimension-wise linear interpolation (reference src/interpolation.jl).

The reference's ``linear_interpolation(da; dims, value)`` interpolates a
variable at a target coordinate along one named dimension, ``mapslices``
over all the others (src/interpolation.jl:10-24, reverse-ordered axes
handled at :15-21); docs interpolate ``atmospheric_temperature_profile`` at
p=832.2 hPa over ``pressure_level`` (docs/src/examples.md:71-73).

Spark re-expression: ``linear_interp_at`` interpolates per group at one
target coordinate. It finds the bracketing samples of ``x`` around ``at``
in one conditional-aggregate pass and lerps. Pure JVM expressions, one
shuffle of (group, x0/x1) partials; the DuckDB oracle reproduces it
exactly (queries/spatial.q_linear_interp). Reverse-ordered axes need no
special case — bracketing is order-free.
"""

from __future__ import annotations

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
