"""Temporal join operators (engine extension — the reference has no
joins beyond its tagged shuffle, SURVEY.md §2.3 "No theta/range/as-of/
interval joins anywhere"; these are the time-series surface a
training-data / event pipeline needs).

``asof_join`` is the canonical "attach the latest right-hand record at
or before each left-hand timestamp" operator (pandas ``merge_asof``,
DuckDB/QuestDB ``ASOF JOIN``). Spark has no built-in; the naive
formulation — an inequality join + per-left-row max — explodes to a
range join. This implementation is the union trick:

    tag both sides -> one shuffle on the key -> running
    ``last(payload, ignorenulls)`` over (ts, side) -> keep left rows

which is ONE hash partition by key + a linear sort-scan within
partitions: no row multiplication, no range-join quadratic blowup, and
the window state is a single struct regardless of how many right rows
precede. At 100 TB the cost is the same as any groupBy on the key.

Skewed keys: the window is per-key sequential by construction (as-of
semantics NEED the full per-key timeline ordered); a pathologically hot
key serializes, same as every as-of engine. Salting cannot apply —
correctness requires seeing all prior right rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_MATCH = "__asof_match"
_SIDE = "__asof_side"
_T = "__asof_t"
_TB = "__asof_tb"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_ts: str = "ts",
    tolerance_seconds: float | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """For every left row, attach the single right row with the
    greatest ``right_ts`` <= the left row's ``ts`` (inclusive),
    matching on the equality key ``on``.

    Left rows with no match keep NULLs (left-outer semantics, like
    pandas ``merge_asof`` / DuckDB ``ASOF LEFT JOIN``).

    Every right column but the key and timestamp is attached, each as
    ``<name><suffix>``, plus the matched timestamp as
    ``<right_ts><suffix>``.

    ``tolerance_seconds`` voids matches further than that from the left
    timestamp (the match columns become NULL, the left row is kept).

    Ties among right rows at the same (key, ts) resolve to the row with
    the greatest deterministic content hash — stable under task retry
    and across runs (a plan-order ``last`` would not be). Callers
    needing a specific tie rule should pre-reduce the right side to one
    row per (key, ts).
    """
    rcols = [c for c in right.columns if c not in (on, right_ts)]
    payload = F.struct(
        F.col(right_ts).alias(right_ts), *[F.col(c).alias(c) for c in rcols]
    )
    payload_type = right.select(payload.alias("p")).schema["p"].dataType

    # Right rows sort BEFORE the left row at an equal timestamp so the
    # inclusive match (right_ts == left_ts) is visible to the running
    # last(); the content-hash tiebreak makes equal-ts right rows a
    # total order. Rows with a NULL timestamp cannot be ordered against
    # anything — dropped, matching pandas/DuckDB (an ascending sort
    # would otherwise place them FIRST and attach their payload to
    # left rows that precede every real right row).
    right = right.filter(F.col(right_ts).isNotNull())
    r_proj = right.select(
        F.col(on).alias(on),
        F.col(right_ts).alias(_T),
        F.lit(0).alias(_SIDE),
        F.xxhash64(*[F.col(right_ts)] + [F.col(c) for c in rcols]).alias(_TB),
        payload.alias(_MATCH),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in left.columns],
    )
    l_proj = left.select(
        F.col(on).alias(on),
        F.col("ts").alias(_T),
        F.lit(1).alias(_SIDE),
        F.lit(0).cast("long").alias(_TB),
        F.lit(None).cast(payload_type).alias(_MATCH),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(_T).asc(), F.col(_SIDE).asc(), F.col(_TB).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        l_proj.unionByName(r_proj)
        .withColumn(_MATCH, F.last(_MATCH, ignorenulls=True).over(w))
        .filter(F.col(_SIDE) == 1)
    )
    if tolerance_seconds is not None:
        # exact integer-microsecond arithmetic: a double epoch-seconds
        # comparison can disagree with SQL engines' integer time math
        # exactly on the boundary
        lag = F.abs(F.unix_micros(F.col(_T)) - F.unix_micros(F.col(_MATCH)[right_ts]))
        matched = matched.withColumn(
            _MATCH,
            F.when(lag <= int(round(tolerance_seconds * 1_000_000)), F.col(_MATCH)),
        )
    out_cols = [F.col(f"__l_{c}").alias(c) for c in left.columns]
    out_cols.append(F.col(_MATCH)[right_ts].alias(f"{right_ts}{suffix}"))
    out_cols += [F.col(_MATCH)[c].alias(f"{c}{suffix}") for c in rcols]
    return matched.select(*out_cols)


def interval_agg_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    aggs: list,
) -> DataFrame:
    """Per left row, aggregate the right rows of the same key with
    ``ts < right ts <= ts + 1 hour`` (a bounded
    interval/range join — "what happened in the hour after X").

    Left-outer: rows with an empty interval keep count 0 / NULL sums.
    The join is EQUI on the key with the range as a post-predicate —
    Catalyst plans a hash/sort-merge join on ``on``, so row
    multiplication is bounded by per-key interval density, never all
    timestamps x all timestamps. ``aggs`` are ordinary Column
    aggregates over the right columns (suffixed ``_r``).

    The regrouping key is ALL left columns — the left side must carry
    a unique identity column (an event/order id); deriving a synthetic
    one here (monotonically_increasing_id) would not be stable under
    task retry.
    """
    r = right.select(
        F.col(on).alias(on), *[F.col(c).alias(f"{c}_r") for c in right.columns if c != on]
    )
    # integer-microsecond window bound: exact, and identical to SQL
    # engines' INTERVAL arithmetic (double epoch-seconds is not)
    win_us = 3600 * 1_000_000
    cond = (
        (F.col("ts_r") > F.col("ts"))
        & (
            F.unix_micros(F.col("ts_r"))
            <= F.unix_micros(F.col("ts")) + win_us
        )
    )
    joined = left.join(r, on=[left[on] == r[on], cond], how="left").drop(r[on])
    return joined.groupBy(*[left[c] for c in left.columns]).agg(*aggs)
