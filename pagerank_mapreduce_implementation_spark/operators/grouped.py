"""Grouped-Arrow batch surface: per-group Python kernels — the batch
sibling of the streaming ``applyInPandasWithState`` operator and the
``mapInPandas`` codec steps (SURVEY.md §2.4).

This is the escape hatch for PER-GROUP logic no built-in expresses
(custom robust statistics, per-user model scoring, grouped
resampling). The demonstration kernel is the THEIL-SEN robust
regression slope — the median of all pairwise slopes ``(y_j - y_i) /
(x_j - x_i)`` over points with distinct x (Sen 1968, "Estimates of the
regression coefficient based on Kendall's tau"). No Spark built-in
aggregate expresses it: the statistic is a median over the O(n²)
PAIRWISE set, so SQL needs a per-group self-join (quadratic shuffle
blow-up at scale) while a per-group Python kernel computes it in-place
on each group's bounded point set.

The physical plan, and the cost model to respect at 100 TB:
``groupBy().agg(collect_list(struct))`` (JVM-side shuffle + agg) then
ONE scalar Pandas UDF over the packed point arrays. Many groups ride in
each Arrow batch, so the per-group Python overhead is the kernel itself
(~20 µs for n<=32 points), not a per-group Arrow round-trip. Right for
SMALL bounded groups (per-user, per-session) — the common corpus
shape; ``applyInPandas`` was measured at ~3 ms/group of fixed overhead
(1.5k groups ≈ 4.5 s), 100× the kernel cost in plumbing. A group too
large for one array cell is outside the contract.

The kernel is arrival-order independent (the pair rule keys on x
VALUES, the median sorts), so the surface sits behind the driver's
exact hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def _theilsen_slope(x, y):
    """Median pairwise slope over points with distinct x; None when no
    valid pair exists. O(n²) in the group size — callers own keeping
    groups bounded (the contract of the grouped surface)."""
    import numpy as np

    x = np.asarray(x, dtype="float64")
    y = np.asarray(y, dtype="float64")
    if x.size < 2:
        return None
    dx = x[None, :] - x[:, None]
    dy = y[None, :] - y[:, None]
    pos = dx > 0  # each distinct-x pair exactly once, same as SQL a.x < b.x
    if not pos.any():
        return None
    return float(np.median(dy[pos] / dx[pos]))


def grouped_theilsen(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Theil-Sen slope of ``y_col`` over ``x_col``:
    ``(group_col, n, slope)`` with ``n`` the group's point count and
    ``slope`` rounded JVM-side (``F.round``, half-up — matching the
    SQL oracle) to 9 digits; NULL when the group has no two points
    with distinct x. Null-valued x/y rows are dropped first (both the
    kernel and the SQL oracle see the same point set). The group key
    passes through the groupBy, so any atomic key type works.
    """
    import pandas as pd

    pts = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())

    def _slopes(pts_ser):
        return pd.Series(
            [
                _theilsen_slope(
                    [p["x"] for p in lst], [p["y"] for p in lst]
                )
                for lst in pts_ser
            ],
            dtype="float64",
        )

    # real type objects, not strings: this module's lazy annotations
    # (PEP 563) would hand pandas_udf the unresolvable text 'pd.Series'
    _slopes.__annotations__ = {"pts_ser": pd.Series, "return": pd.Series}
    slope_udf = F.pandas_udf(_slopes, DoubleType())

    packed = pts.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.collect_list(
            F.struct(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        ).alias("__pts"),
    )
    return packed.select(
        group_col,
        "n",
        F.round(slope_udf("__pts"), 9).alias("slope"),
    )
