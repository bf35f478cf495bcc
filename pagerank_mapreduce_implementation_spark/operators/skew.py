"""Skew-handling utilities for hot keys at scale.

AQE's skew-join splitting (enabled in session.py) handles most cases at
runtime; these helpers cover the two places AQE can't:

- **salted aggregation**: a groupBy on a key where one value dominates
  (a stop-shingle, a null-ish sentinel, a celebrity vertex) bottlenecks
  the one reducer holding it — even with map-side partial aggregation,
  when upstream is already partitioned by that key. Two-phase salting
  spreads the hot key over ``salt_buckets`` reducers, then combines.
- **salted broadcast-unfriendly join**: replicate the small side per
  salt so a hot probe key fans out. (For joins where one side fits in
  memory, prefer broadcast — this is for mid-size dimension tables.)

Both are pure DataFrame transforms: deterministic, no RDDs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _row_salt(df: DataFrame, salt_buckets: int) -> Column:
    """Deterministic per-row salt in [0, salt_buckets).

    Hash of ALL the row's columns plus the partition id. The partition
    id spreads rows whose every column is identical (the classic
    constant-sentinel hot key — a value-only or key-only hash collapses
    those onto ONE bucket); the row hash spreads within a partition.
    Both inputs are stable under task retry for deterministic upstream
    plans — unlike ``monotonically_increasing_id``, which renumbers on
    recompute.
    """
    cols = [F.col(c) for c in df.columns]
    return F.pmod(F.hash(F.spark_partition_id(), *cols), F.lit(salt_buckets))


def salted_sum(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    salt_buckets: int = 16,
    agg: Callable[[Column], Column] = F.sum,
) -> DataFrame:
    """Two-phase skew-safe aggregation: ``agg(value) GROUP BY keys``.

    Phase 1 groups by (keys, salt) — the hot key spreads over
    ``salt_buckets`` reducers; phase 2 combines the per-salt partials
    with the combiner. For self-decomposable aggregates (sum, min, max)
    the combiner IS the aggregate; ``F.count`` partials combine by
    SUMMING (count-of-counts would return the number of salt buckets),
    so count combines with ``F.sum``.
    """
    combine = F.sum if agg is F.count else agg
    salt = _row_salt(df, salt_buckets).alias("_salt")
    phase1 = (
        df.select(*df.columns, salt)
        .groupBy(*key_cols, "_salt")
        .agg(agg(F.col(value_col)).alias("_partial"))
    )
    return phase1.groupBy(*key_cols).agg(
        combine(F.col("_partial")).alias(f"{value_col}_agg")
    )


def salted_join(big: DataFrame, small: DataFrame, key: str) -> DataFrame:
    """Inner join where ``big`` has hot values of ``key``: salt the big
    side, replicate the small side per salt value, join on (key, salt).

    The replication factor is 8 salt buckets. Output columns = big's + small's (minus the
    duplicate key), like a plain ``join(small, key)``.
    """
    salted_big = big.withColumn("_salt", _row_salt(big, 8))
    salts = F.explode(F.sequence(F.lit(0), F.lit(7))).alias("_salt")
    replicated = small.select("*", salts)
    out = salted_big.join(replicated, [key, "_salt"]).drop("_salt")
    return out
